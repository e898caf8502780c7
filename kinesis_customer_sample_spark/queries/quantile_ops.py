"""Exact distributed quantiles & quantile-based segmentation — round-3
wave (SURVEY.md §2B): type-7 (linearly interpolated) per-group quantiles
computed EXACTLY at any scale, and RFM (recency/frequency/monetary)
customer segmentation built on the same machinery.

The scale problem these solve: Spark's exact `percentile` aggregates
collect each group's values, and rank-selection via a global ordered
window serializes the table through one task (the q92 lesson). Both
operators here compute exact order statistics with the TWO-LEVEL grid
pattern instead: aggregate to the (group, distinct value) grid, cumulate
within fixed-width value buckets under a partitioned window, convert the
tiny per-bucket summary into global offsets via a triangular join, then
read any rank straight off the cumulative grid. Nothing is ever globally
sorted; every window is (group, bucket)-partitioned.

Cross-engine determinism: counts, cumulative counts, and rank targets are
integers; values are cents. The only doubles are the interpolation
fraction p·(n−1) − ⌊p·(n−1)⌋ and the final projection — identical IEEE
sequences on identical integers in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import tok_hash_expr
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_QB_WIDTH = 2000  # cents per cumsum bucket (~$20)
_Q_FRACTIONS = (0.5, 0.9, 0.99)

_RFM_ANCHOR = "2024-01-31"


def _grid_cumulative(df: DataFrame, group: str, width: int) -> DataFrame:
    """(group, v, cnt, c, n): per-distinct-value counts with INCLUSIVE
    cumulative count c and group total n, via bucket-partitioned windows
    for the ROW level + a per-group cumsum window over the BUCKET-grid
    totals for the offsets (no row-scale global window anywhere).

    The offset stage used to be a triangular self-join on bucket < bucket
    — quadratic in OCCUPIED buckets, which is fine for a ~25-bucket
    events grid but blew up to 1.9e9 joined rows on the order-totalprice
    domain (27k occupied buckets per segment at sf0.1 → 118 s, caught by
    the round-6 bench). The bucket-totals table is grid-sized (domain
    range / width, data-volume-independent), so an ordered window over it
    is O(grid) per group and the hazard the two-level pattern exists to
    avoid — a GLOBAL window over ROW-scale data — never appears."""
    g = df.groupBy(group, "v").agg(F.count(F.lit(1)).alias("cnt"))
    g = g.withColumn("bucket", F.floor(F.col("v") / width))
    w_loc = (
        W.partitionBy(group, "bucket")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = g.withColumn("lc", F.sum("cnt").over(w_loc))
    totals = g.groupBy(group, "bucket").agg(F.sum("cnt").alias("t"))
    w_off = (
        W.partitionBy(group)
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    starts = totals.select(
        group,
        "bucket",
        F.coalesce(F.sum("t").over(w_off), F.lit(0)).alias("s"),
    )
    n = totals.groupBy(group).agg(F.sum("t").alias("n"))
    return (
        local.join(F.broadcast(starts), [group, "bucket"])
        .join(F.broadcast(n), group)
        .select(group, "v", "cnt", (F.col("s") + F.col("lc")).alias("c"), "n")
    )


@query(
    "q272_interpolated_quantiles",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type, v,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS c,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM g
    ),
    targets AS (
      SELECT DISTINCT event_type, n, p.p,
             floor(p.p * (n - 1))::BIGINT AS lo,
             ceil(p.p * (n - 1))::BIGINT AS hi,
             p.p * (n - 1) - floor(p.p * (n - 1)) AS frac
      FROM grid, (SELECT unnest([{", ".join(f"CAST({p} AS DOUBLE)" for p in _Q_FRACTIONS)}]) AS p) p
    )
    SELECT t.event_type, t.p, any_value(t.n)::BIGINT AS n,
           round((min(CASE WHEN g.c >= t.lo + 1 THEN g.v END)
                  + (min(CASE WHEN g.c >= t.hi + 1 THEN g.v END)
                     - min(CASE WHEN g.c >= t.lo + 1 THEN g.v END))
                    * any_value(t.frac)) / 100, 6) AS quantile_value
    FROM targets t JOIN grid g ON g.event_type = t.event_type
    GROUP BY t.event_type, t.p
    """,
    tags=("stats", "quantile", "two-level-window"),
)
def interpolated_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT type-7 (numpy/R default: linear interpolation between the
    two bracketing order statistics at position p·(n−1)) quantiles of
    order value per event type — no sampling, no sketch, no global sort.
    The order statistics are read off the two-level cumulative grid as
    'minimum value whose cumulative count reaches the target rank', an
    associative min-aggregate. Complements q211 (mergeable sketch
    quantiles, approximate) with the exact path, and q22's
    percentile_approx. At 100 TB: one hash-agg to the value grid,
    bucket-partitioned windows, broadcast of the |groups|·|fractions|
    target table — the grid join is the only non-broadcast shuffle."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    grid = _grid_cumulative(ev, "event_type", _QB_WIDTH)
    fracs = spark.createDataFrame([(p,) for p in _Q_FRACTIONS], "p double")
    targets = (
        grid.select("event_type", "n")
        .distinct()
        .crossJoin(F.broadcast(fracs))
        .select(
            "event_type",
            "n",
            "p",
            F.floor(F.col("p") * (F.col("n") - 1)).cast("bigint").alias("lo"),
            F.ceil(F.col("p") * (F.col("n") - 1)).cast("bigint").alias("hi"),
            (
                F.col("p") * (F.col("n") - 1)
                - F.floor(F.col("p") * (F.col("n") - 1))
            ).alias("frac"),
        )
    )
    v_lo = F.min(F.when(F.col("c") >= F.col("lo") + 1, F.col("v")))
    v_hi = F.min(F.when(F.col("c") >= F.col("hi") + 1, F.col("v")))
    return (
        grid.drop("n")
        .join(F.broadcast(targets), "event_type")
        .groupBy("event_type", "p")
        .agg(
            F.any_value(F.col("n")).cast("bigint").alias("n"),
            F.round(
                (v_lo + (v_hi - v_lo) * F.any_value(F.col("frac"))) / 100, 6
            ).alias("quantile_value"),
        )
    )


@query(
    "q274_rfm_segmentation",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             date_diff('day', max(CASE WHEN event_type = 'purchase' THEN ts END),
                       TIMESTAMP '{_RFM_ANCHOR}')::BIGINT AS recency_days,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS frequency,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
               AS monetary_cents
      FROM events GROUP BY user_id
    ),
    p AS (SELECT * FROM u WHERE frequency > 0),
    marks AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS f),
    rb AS (
      SELECT f, min(v) AS brk FROM (
        SELECT recency_days AS v,
               sum(count(*)) OVER (ORDER BY recency_days) AS c,
               sum(count(*)) OVER () AS n
        FROM p GROUP BY recency_days
      ), marks WHERE c >= ceil(f * n) GROUP BY f
    ),
    fb AS (
      SELECT f, min(v) AS brk FROM (
        SELECT frequency AS v,
               sum(count(*)) OVER (ORDER BY frequency) AS c,
               sum(count(*)) OVER () AS n
        FROM p GROUP BY frequency
      ), marks WHERE c >= ceil(f * n) GROUP BY f
    ),
    mb AS (
      SELECT f, min(v) AS brk FROM (
        SELECT monetary_cents AS v,
               sum(count(*)) OVER (ORDER BY monetary_cents) AS c,
               sum(count(*)) OVER () AS n
        FROM p GROUP BY monetary_cents
      ), marks WHERE c >= ceil(f * n) GROUP BY f
    ),
    scored AS (
      SELECT p.user_id, p.recency_days, p.frequency, p.monetary_cents,
             -- recency: SMALLER is better → invert the bucket index
             5 - (SELECT count(*) FROM rb WHERE p.recency_days > rb.brk) AS r_score,
             1 + (SELECT count(*) FROM fb WHERE p.frequency > fb.brk) AS f_score,
             1 + (SELECT count(*) FROM mb WHERE p.monetary_cents > mb.brk) AS m_score
      FROM p
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
           m_score::BIGINT AS m_score,
           (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm_cell
    FROM scored
    """,
    tags=("analytics", "segmentation", "rfm", "quantile"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with EXACT nearest-rank quintile breaks: summarize
    each purchasing user (days since last purchase vs the anchor, purchase
    count, purchase cents), derive the 20/40/60/80th-percentile
    breakpoints of each dimension from its two-level cumulative grid
    (never ntile — a global ntile window is the q92 single-task trap on a
    billion-user table), broadcast the 12 breakpoint numbers, and assign
    scores map-side by counting exceeded breaks. Recency inverts (recent =
    high score). Bucket-boundary ties resolve identically in both engines
    because scores come from integer comparisons against identical integer
    breaks. At 100 TB: one user-level agg, three grid aggs over it, and a
    map-side scoring pass — no shuffle after the user rollup."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).cast("date"),
        )
        .cast("bigint")
        .alias("recency_days"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("frequency"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("monetary_cents"),
    ).filter(F.col("frequency") > 0)

    marks = [0.2, 0.4, 0.6, 0.8]

    def breaks(col: str, width: int) -> list[int]:
        grid = _grid_cumulative(
            u.select(F.lit("all").alias("g"), F.col(col).alias("v")), "g", width
        )
        fr = F.broadcast(
            u.sparkSession.createDataFrame([(f,) for f in marks], "f double")
        )
        rows = (
            grid.crossJoin(fr)
            .filter(F.col("c") >= F.ceil(F.col("f") * F.col("n")))
            .groupBy("f")
            .agg(F.min("v").alias("brk"))
            .collect()
        )
        return [r.brk for r in sorted(rows, key=lambda r: r.f)]

    rb = breaks("recency_days", 4)
    fb = breaks("frequency", 4)
    mb = breaks("monetary_cents", 20000)

    def score_above(col: str, brks: list[int]) -> F.Column:
        expr = F.lit(0)
        for b in brks:
            expr = expr + F.when(F.col(col) > b, 1).otherwise(0)
        return expr

    r_score = (F.lit(5) - score_above("recency_days", rb)).cast("bigint")
    f_score = (F.lit(1) + score_above("frequency", fb)).cast("bigint")
    m_score = (F.lit(1) + score_above("monetary_cents", mb)).cast("bigint")
    return u.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        (r_score * 100 + f_score * 10 + m_score).cast("bigint").alias("rfm_cell"),
    )


_ICDF_SLOTS = 100
_ICDF_P = 1_000_000_007


@query(
    "q287_inverse_cdf_sample",
    oracle=f"""
    WITH w AS (
      SELECT n_name,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS wt
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    cum AS (
      SELECT n_name, wt,
             coalesce(sum(wt) OVER (ORDER BY n_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
             sum(wt) OVER (ORDER BY n_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             sum(wt) OVER () AS total
      FROM w
    ),
    slots AS (
      SELECT j,
             ({{duck_h}}) * 2654435761 % {_ICDF_P} AS hj
      FROM (SELECT unnest(range({_ICDF_SLOTS})) AS j)
    ),
    drawn AS (
      SELECT c.n_name, count(*) AS n_drawn
      FROM slots s JOIN cum c
        ON floor(s.hj / {_ICDF_P}.0 * c.total) >= c.lo
       AND floor(s.hj / {_ICDF_P}.0 * c.total) < c.hi
      GROUP BY 1
    )
    SELECT c.n_name, c.wt::BIGINT AS weight_cents,
           coalesce(d.n_drawn, 0)::BIGINT AS n_drawn,
           (1000 * c.wt // c.total)::BIGINT AS expected_milli
    FROM cum c LEFT JOIN drawn d ON d.n_name = c.n_name
    """.replace("{duck_h}", tok_hash_expr("'icdf-' || j::VARCHAR", dialect="duckdb")),
    tags=("sampling", "inverse-cdf", "weighted"),
)
def inverse_cdf_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITH replacement via integer inverse-CDF lookup:
    build the cumulative weight table (revenue cents per nation — a
    bounded dimension grid, so its one ordered window is 25 rows by
    construction), draw 100 deterministic integer uniforms in [0, total)
    (portable hash + the q271 de-clustering post-mix, reduced mod total),
    and map each draw to the owning [lo, hi) interval with a broadcast
    range join — the O(log n)-free distributed form of inverse-CDF
    sampling, complementing q104 (priority sampling, WITHOUT
    replacement). Everything is int64: draw counts are exact across
    engines, and each nation's expected draw share (integer milli-units)
    sits beside its realized count for a built-in sanity readout. At
    100 TB the weight table is dimension-sized and broadcasts; the slot
    table is |k| rows; neither touches the fact table after the one
    weight aggregation."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    w = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias("wt")
        )
    )
    w_cum = (
        W.orderBy("n_name").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_prev = W.orderBy("n_name").rowsBetween(W.unboundedPreceding, -1)
    cum = w.select(
        "n_name",
        "wt",
        F.coalesce(F.sum("wt").over(w_prev), F.lit(0)).alias("lo"),
        F.sum("wt").over(w_cum).alias("hi"),
    ).crossJoin(F.broadcast(w.agg(F.sum("wt").alias("total"))))
    spark_h = tok_hash_expr("'icdf-' || CAST(j AS STRING)", dialect="spark")
    slots = spark.range(_ICDF_SLOTS).select(
        F.col("id").alias("j"),
        F.expr(f"({spark_h}) * 2654435761 % {_ICDF_P}").alias("hj"),
    )
    u = F.expr(f"floor(hj / {_ICDF_P}.0 * total)")
    drawn = (
        slots.join(
            F.broadcast(cum),
            (u >= F.col("lo")) & (u < F.col("hi")),
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_drawn"))
    )
    return (
        cum.join(drawn, "n_name", "left")
        .select(
            "n_name",
            F.col("wt").alias("weight_cents"),
            F.coalesce(F.col("n_drawn"), F.lit(0)).cast("bigint").alias("n_drawn"),
            F.expr("CAST(1000 * wt div total AS BIGINT)").alias("expected_milli"),
        )
    )


@query(
    "q343_gini_by_segment",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS v,
             o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
      SELECT segment, v,
             row_number() OVER (PARTITION BY segment ORDER BY v, o_orderkey)
               AS i,
             count(*) OVER (PARTITION BY segment) AS n
      FROM base
    ),
    agg AS (
      SELECT segment, any_value(n)::BIGINT AS n,
             sum(v)::BIGINT AS total_cents,
             sum((2 * i - n - 1) * v)::BIGINT AS num
      FROM ranked GROUP BY segment
    )
    SELECT segment, n, total_cents,
           CAST(floor(num::DOUBLE / (n::DOUBLE * total_cents) * 1e6) AS BIGINT)
             AS gini_mu
    FROM agg
    """,
    tags=("stats", "gini", "inequality", "two-level-window"),
)
def gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of order value per market segment — the
    inequality measure behind revenue-concentration dashboards
    (complements q203's top-share Pareto cut with the full-distribution
    statistic). Uses the rank identity G = Σ(2i−n−1)·x_(i) / (n·Σx), but
    never materializes ranks row-by-row: on the (segment, distinct-cents)
    grid a value v with multiplicity k occupying inclusive cumulative
    ranks (c−k+1 … c) contributes v·(k·(2c−k+1) − k·(n+1)) in closed
    form — an exact integer per grid row, summed associatively.

    Scale posture (100 TB): reuses _grid_cumulative's two-level pattern —
    hash-agg to the distinct-value grid, bucket-partitioned cumsum
    windows, broadcast bucket offsets; NO global ordered window (the same
    no-serialize argument as q272). The oracle ranks row-by-row instead —
    same result by the tie-invariance of the rank sum. int64 bound:
    Σ|contrib| ≈ n²·v̄ ≈ 1e16 at sf0.1; switch the two sums to
    DECIMAL(38,0) beyond sf ≈ 1 (the q311-style documented bound)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    grid = _grid_cumulative(o.join(c, "o_custkey"), "segment", _QB_WIDTH)
    contrib = F.expr("v * (cnt * (2 * c - cnt + 1) - cnt * (n + 1))")
    agg = grid.groupBy("segment").agg(
        F.first("n").cast("bigint").alias("n"),
        F.sum(F.expr("v * cnt")).cast("bigint").alias("total_cents"),
        F.sum(contrib).cast("bigint").alias("num"),
    )
    # floor-µ output (SCALE.md round-on-quotient ban); the denominator
    # stays double — n·total_cents exceeds int64 at large SF
    return agg.select(
        "segment",
        "n",
        "total_cents",
        F.floor(
            F.col("num").cast("double")
            / (F.col("n").cast("double") * F.col("total_cents").cast("double"))
            * 1e6
        )
        .cast("bigint")
        .alias("gini_mu"),
    )


@query(
    "q412_theil_decomposition",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    -- per distinct value within segment: Theil needs Σ v·ln v — ln only
    -- ever sees INTEGER cents (per distinct value, q151 discipline)
    seg AS (
      -- Σ v·⌊10⁶ ln v⌋ is ~2.5e14 per row → past int64 once summed over a
      -- big segment; accumulate in HUGEINT (Spark side: DECIMAL(38,0))
      SELECT segment,
             count(*)::BIGINT AS n,
             sum(v)::BIGINT   AS s,
             sum(v::HUGEINT * floor(ln(v) * 1000000)::BIGINT) AS sum_vlnv_mu
      FROM base GROUP BY 1
    ),
    tot AS (
      SELECT sum(n)::BIGINT AS big_n, sum(s)::BIGINT AS big_s,
             sum(sum_vlnv_mu) AS tot_vlnv_mu
      FROM seg
    ),
    -- within-segment Theil T_g (µ-nats): Σ(v/s)·ln(v·n/s)
    --   = sum_vlnv/s + ln n − ln s ; share = s/S
    within AS (
      SELECT segment, n, s,
             (sum_vlnv_mu // s
              + floor(ln(n) * 1000000)::BIGINT
              - floor(ln(s) * 1000000)::BIGINT) AS t_within_mu,
             (s * 10000 // (SELECT big_s FROM tot))::BIGINT AS share_bp
      FROM seg
    ),
    rollup AS (
      SELECT 'ALL' AS segment,
             (SELECT big_n FROM tot) AS n, (SELECT big_s FROM tot) AS s,
             ((SELECT tot_vlnv_mu FROM tot) // (SELECT big_s FROM tot)
              + floor(ln((SELECT big_n FROM tot)) * 1000000)::BIGINT
              - floor(ln((SELECT big_s FROM tot)) * 1000000)::BIGINT)
               AS t_within_mu,
             10000::BIGINT AS share_bp
    )
    SELECT segment, n, s AS total_cents, t_within_mu::BIGINT AS theil_mu,
           share_bp FROM within
    UNION ALL
    SELECT segment, n, s, t_within_mu::BIGINT, share_bp FROM rollup
    """,
    tags=("stats", "inequality", "theil", "decomposition"),
)
def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index per segment + overall — the inequality measure that,
    unlike Gini (q343), DECOMPOSES exactly: T_total = Σ share_g·T_g +
    T_between, so an analyst can say how much revenue inequality lives
    WITHIN segments vs between them (the 'ALL' row carries the total;
    the between term is the reader's subtraction — every input to it is
    in the output). T = Σ (v/S)·ln(v·N/S) is computed entirely from
    integer sufficient statistics: Σv, N, and Σ v·⌊10⁶·ln v⌋ — ln only
    ever sees integer cents (per row value) or integer totals, the q151
    discipline, so both engines agree bit-for-bit.

    Scale posture (100 TB): one fact-dim join + ONE hash agg to the
    segment grid carrying three sufficient statistics; the rollup is
    grid algebra. No window, no second scan — the decomposability is
    exactly why Theil (not Gini) is the scalable drill-down
    inequality metric."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    seg = materialize(
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            # per-row product is ~2.5e14; an int64 SUM overflows past ~40k
            # rows per segment — accumulate in DECIMAL(38,0) (DuckDB twin:
            # HUGEINT), exact to 1e38
            F.expr(
                "sum(CAST(v AS DECIMAL(38,0)) * CAST(floor(ln(v) * 1000000) AS BIGINT))"
            ).alias("sum_vlnv_mu"),
        )
    )
    tot = F.broadcast(
        seg.agg(
            F.sum("n").alias("big_n"),
            F.sum("s").alias("big_s"),
            F.sum("sum_vlnv_mu").alias("tot_vlnv_mu"),
        )
    )
    t_mu = F.expr(
        "sum_vlnv_mu div s + CAST(floor(ln(n) * 1000000) AS BIGINT) "
        "- CAST(floor(ln(s) * 1000000) AS BIGINT)"
    )
    within = seg.crossJoin(tot).select(
        "segment",
        "n",
        F.col("s").alias("total_cents"),
        t_mu.cast("bigint").alias("theil_mu"),
        F.expr("s * 10000 div big_s").cast("bigint").alias("share_bp"),
    )
    rollup = tot.select(
        F.lit("ALL").alias("segment"),
        F.col("big_n").alias("n"),
        F.col("big_s").alias("total_cents"),
        F.expr(
            "tot_vlnv_mu div big_s + CAST(floor(ln(big_n) * 1000000) AS BIGINT) "
            "- CAST(floor(ln(big_s) * 1000000) AS BIGINT)"
        ).cast("bigint").alias("theil_mu"),
        F.lit(10000).cast("bigint").alias("share_bp"),
    )
    return within.unionByName(rollup)


# q429 (round 7): Herfindahl–Hirschman concentration — the antitrust /
# supply-risk index completing the inequality family (q343 Gini ranks
# dispersion, q412 Theil decomposes it, HHI measures CONCENTRATION in
# the units regulators use: squared percentage shares, 0..10000).
_HHI_MODERATE = 1500
_HHI_HIGH = 2500


@query(
    "q429_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nk, l.l_suppkey,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nk, sum(r)::BIGINT AS t, count(*)::BIGINT AS n_sup FROM rev GROUP BY 1),
    shares AS (
      SELECT rev.nk, n_sup, t,
             (r * 10000 // t) AS share_bp
      FROM rev JOIN tot USING (nk)
    ),
    hhi AS (
      SELECT nk, min(n_sup) AS n_suppliers, min(t) AS total_cents,
             (sum(share_bp * share_bp) // 10000)::BIGINT AS hhi
      FROM shares GROUP BY nk
    )
    SELECT n.n_name AS nation, n_suppliers, total_cents, hhi,
           CASE WHEN hhi >= {_HHI_HIGH} THEN 'high'
                WHEN hhi >= {_HHI_MODERATE} THEN 'moderate'
                ELSE 'low' END AS concentration
    FROM hhi JOIN nation n ON n.n_nationkey = hhi.nk
    ORDER BY nation
    """,
    tags=("stats", "concentration", "hhi", "inequality"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration per
    nation — Σ(squared percent shares), the regulator's market-power
    screen and the supply-chain analyst's single-source-risk flag (one
    supplier = 10000; atomistic market → 0), with the DOJ's 1500/2500
    banding emitted as the verdict. Shares floor to integer basis points
    (r·10⁴ div total) and HHI = Σshare² div 10⁴ — all-integer, order-
    insensitive.

    Scale posture: one fact hash-agg to (nation, supplier) revenue, one
    rollup to nation totals joined back grid-vs-grid, one squared-share
    agg; the nation-name join broadcasts. Identical plan at any scale —
    the grids are dimension-bounded."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("c"),
    )
    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("nk")
    )
    rev = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nk", "l_suppkey")
        .agg(F.sum("c").cast("bigint").alias("r"))
    )
    tot = rev.groupBy("nk").agg(
        F.sum("r").cast("bigint").alias("t"), F.count(F.lit(1)).cast("bigint").alias("n_sup")
    )
    shares = rev.join(F.broadcast(tot), "nk").select(
        "nk", "n_sup", "t", F.expr("r * 10000 div t").alias("share_bp")
    )
    hhi = shares.groupBy("nk").agg(
        F.min("n_sup").alias("n_suppliers"),
        F.min("t").alias("total_cents"),
        F.expr("CAST(sum(share_bp * share_bp) div 10000 AS BIGINT)").alias("hhi"),
    )
    nat = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    return (
        hhi.join(F.broadcast(nat), "nk")
        .select(
            "nation",
            "n_suppliers",
            "total_cents",
            "hhi",
            F.when(F.col("hhi") >= _HHI_HIGH, "high")
            .when(F.col("hhi") >= _HHI_MODERATE, "moderate")
            .otherwise("low")
            .alias("concentration"),
        )
        .orderBy("nation")
    )
