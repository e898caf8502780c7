"""Robust-estimation & inequality wave (round 7, SURVEY.md §2B): five
estimators an analytics platform needs when means and OLS lie — the
Theil–Sen median-of-slopes trend, the Huber M-estimator of location
(fixed-iteration IRLS as pure relational algebra), mutual information
with Theil's uncertainty coefficient (the directional sibling of q417's
Cramér's V), Lorenz-curve decile points (the curve behind q343's Gini),
and Yule–Walker AR(2) coefficients closed-form from q442's lag profile.
No counterpart in the reference snapshot (docs/user-guide.md:58-145);
mandated by the expanded §2B statistics surface.

Cross-engine determinism (registry parity rules):
- inputs are exact integer cents/counts aggregated in codegen;
- Theil–Sen slopes are single IEEE divisions of integer differences;
  both engines' exact median interpolates the two middle values with
  the same (a+b)/2 IEEE ops on identical doubles;
- Huber IRLS quantizes each weight to ⌊10⁶·w⌋ BEFORE the weighted
  sums, so every aggregate is an exact integer sum (the q151
  discipline applied to weights instead of logs); the per-step center
  is one double division of two integers;
- MI / Theil's U put ln only over INTEGER arguments (micro-nat floors
  per distinct cell), and U is the ratio of two identically-scaled
  integer sums — the N·10⁶ scale cancels exactly;
- Yule–Walker is closed-form double algebra over q442-style integer
  sums, floor-quantized to µ-units in-query (round-on-quotient ban).

Scale posture (100 TB):
- every query is one codegen hash-agg to a small grid (segment/nation/
  month/decile) followed by grid algebra; scalar per-group state (the
  IRLS center, the Lorenz total) travels via broadcast joins;
- Theil–Sen pairs join the aggregated month grid with itself (grid²,
  bounded), never raw rows;
- the IRLS loop is a FIXED 3-step unroll — three passes over the fact
  scan with a broadcast 5-row center grid each, no driver iteration,
  no collect besides the driver's own result fetch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.forecast_eval_ops import (
    _DUCK_DAILY,
    _PEARSON_DEN,
    _PEARSON_NUM,
    _daily_counts,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# q445: month anchor for integer month indexes
_TS_ANCHOR = "1995-01-01"
# q446: Huber tuning constant as a rational (3/2 · MAD) and IRLS depth
_HUBER_K_NUM, _HUBER_K_DEN = 3, 2
_HUBER_STEPS = 3
# q448: Lorenz decile count
_LORENZ_NTILES = 10


@query(
    "q445_theil_sen_slope",
    oracle=f"""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             (date_part('year', o.o_orderdate) - 1995) * 12
               + date_part('month', o.o_orderdate) - 1 AS m,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.nation,
             CAST(b.cents - a.cents AS DOUBLE) / CAST(b.m - a.m AS DOUBLE)
               AS slope
      FROM monthly a JOIN monthly b
        ON b.nation = a.nation AND b.m > a.m
    )
    SELECT nation, count(*)::BIGINT AS n_pairs,
           CAST(floor(median(slope) * 1e6) AS BIGINT) AS ts_slope_cents_mu
    FROM slopes GROUP BY nation ORDER BY nation
    """,
    tags=("robust-stats", "theil-sen", "trend"),
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator: per nation, the median of all pairwise
    slopes (Δrevenue/Δmonth) of the monthly order-revenue series — the
    robust trend line that shrugs off the outlier months that bend
    q228's OLS fit (breakdown point 29%).

    Determinism: month indexes and cents are integers; each slope is a
    single IEEE division; both engines' exact median sorts identical
    doubles and interpolates the two middles with the same (a+b)/2.

    Scale: one codegen hash-agg to the (nation, month) grid; the pair
    join is grid² per nation (~months²), never raw orders; the median
    runs per nation on ≤ months² slopes — bounded, partitioned."""
    monthly = (
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
        .groupBy(
            F.col("n_name").alias("nation"),
            F.expr(
                "(year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1"
            ).alias("m"),
        )
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"))
    )
    slopes = (
        monthly.alias("a")
        .join(
            monthly.alias("b"),
            (F.col("b.nation") == F.col("a.nation")) & (F.col("b.m") > F.col("a.m")),
        )
        .select(
            F.col("a.nation").alias("nation"),
            (
                (F.col("b.cents") - F.col("a.cents")).cast("double")
                / (F.col("b.m") - F.col("a.m")).cast("double")
            ).alias("slope"),
        )
    )
    return (
        slopes.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # floor-µ output (SCALE.md round-on-quotient ban)
            F.floor(F.expr("percentile(slope, 0.5)") * 1e6)
            .cast("bigint")
            .alias("ts_slope_cents_mu"),
        )
        .orderBy("nation")
    )


_HUBER_X = "CAST(round(c_acctbal * 100) AS BIGINT)"


def _huber_step_sql(prev: str, i: int) -> str:
    """One unrolled IRLS step as a DuckDB CTE pair: integer-quantized
    weights against the center carried by CTE `prev` (seg, mu), then
    the new center as one division of two exact integer sums."""
    return f"""w{i} AS (
      SELECT r.seg, r.x,
             CASE WHEN abs(r.x - p.mu) <= g.tau THEN 1000000
                  ELSE CAST(floor(1000000.0 * g.tau / abs(r.x - p.mu)) AS BIGINT)
             END AS wq
      FROM rws r
      JOIN grid g ON g.seg = r.seg
      JOIN {prev} p ON p.seg = r.seg
    ),
    mu{i} AS (
      SELECT seg,
             CAST(sum(wq * x)::BIGINT AS DOUBLE)
               / CAST(sum(wq)::BIGINT AS DOUBLE) AS mu
      FROM w{i} GROUP BY seg
    )"""


@query(
    "q446_huber_location",
    oracle=f"""
    WITH rws AS (
      SELECT c_mktsegment AS seg, {_HUBER_X} AS x FROM customer
    ),
    med AS (SELECT seg, median(x) AS med FROM rws GROUP BY seg),
    madt AS (
      SELECT r.seg, median(abs(r.x - m.med)) AS mad
      FROM rws r JOIN med m ON m.seg = r.seg GROUP BY r.seg
    ),
    grid AS (
      SELECT r.seg, count(*)::BIGINT AS n,
             CAST(sum(r.x)::BIGINT AS DOUBLE) / count(*) AS mu_start,
             {_HUBER_K_NUM}.0 / {_HUBER_K_DEN} * any_value(md.mad) AS tau
      FROM rws r JOIN madt md ON md.seg = r.seg
      GROUP BY r.seg
    ),
    mu0 AS (SELECT seg, mu_start AS mu FROM grid),
    {_huber_step_sql('mu0', 1)},
    {_huber_step_sql('mu1', 2)},
    {_huber_step_sql('mu2', 3)}
    SELECT g.seg AS segment, g.n,
           CAST(floor(g.mu_start * 1e6) AS BIGINT) AS mean_cents_mu,
           CAST(floor(g.tau * 1e6) AS BIGINT) AS tau_cents_mu,
           CAST(floor(m.mu * 1e6) AS BIGINT) AS huber_cents_mu
    FROM grid g JOIN mu{_HUBER_STEPS} m ON m.seg = g.seg
    ORDER BY segment
    """,
    tags=("robust-stats", "huber", "irls", "m-estimator"),
)
def huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location per market segment over account
    balances (cents): IRLS with ψ-weights w = min(1, τ/|x−μ|),
    τ = 1.5·MAD, unrolled to exactly {k} fixed steps from the mean —
    the 'trainable model as relational algebra' discipline (q377/q384)
    applied to robust location.

    Determinism: x is integer cents; MAD/τ are interpolated medians of
    integers (identical doubles); each step quantizes weights to
    ⌊10⁶w⌋ BEFORE summation so both Σwx and Σw are exact integer
    aggregates — the new center is one double division. No float ever
    enters an aggregate.

    Scale: the per-segment scalar state (τ, μ_t) is a 5-row grid
    broadcast to each of the {k} fixed row passes; medians partition by
    segment. No driver loop, no collect — the iteration depth is a
    compile-time constant, so the whole estimator is one static plan.""".format(
        k=_HUBER_STEPS
    )
    rows = materialize(
        table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("seg"), F.expr(_HUBER_X).alias("x"))
    )
    med = rows.groupBy("seg").agg(F.expr("percentile(x, 0.5)").alias("med"))
    mad = (
        rows.join(F.broadcast(med), "seg")
        .groupBy("seg")
        .agg(F.expr("percentile(abs(x - med), 0.5)").alias("mad"))
    )
    grid = (
        rows.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
        .join(F.broadcast(mad), "seg")
        .select(
            "seg",
            "n",
            (F.col("sx").cast("double") / F.col("n")).alias("mu_start"),
            (F.lit(float(_HUBER_K_NUM) / _HUBER_K_DEN) * F.col("mad")).alias("tau"),
        )
    )
    mu = grid.select("seg", F.col("mu_start").alias("mu"), "tau")
    for _ in range(_HUBER_STEPS):
        stepped = (
            rows.join(F.broadcast(mu), "seg")
            .withColumn(
                "wq",
                F.when(F.abs(F.col("x") - F.col("mu")) <= F.col("tau"), F.lit(1000000))
                .otherwise(
                    F.floor(
                        F.lit(1000000.0)
                        * F.col("tau")
                        / F.abs(F.col("x") - F.col("mu"))
                    )
                )
                .cast("long"),
            )
            .groupBy("seg")
            .agg(
                (
                    F.sum(F.col("wq") * F.col("x")).cast("double")
                    / F.sum("wq").cast("double")
                ).alias("mu")
            )
        )
        mu = stepped.join(F.broadcast(grid.select("seg", "tau")), "seg").select(
            "seg", "mu", "tau"
        )
    out = (
        grid.join(mu.select("seg", F.col("mu").alias("huber")), "seg")
        .select(
            F.col("seg").alias("segment"),
            "n",
            F.floor(F.col("mu_start") * 1e6).cast("bigint").alias("mean_cents_mu"),
            F.floor(F.col("tau") * 1e6).cast("bigint").alias("tau_cents_mu"),
            F.floor(F.col("huber") * 1e6).cast("bigint").alias("huber_cents_mu"),
        )
        .orderBy("segment")
    )
    return out


_LN6 = "CAST(floor(1000000.0 * ln(CAST({arg} AS DOUBLE))) AS BIGINT)"


@query(
    "q447_mutual_information",
    oracle=f"""
    WITH cells AS (
      SELECT c.c_mktsegment AS x, o.o_orderpriority AS y,
             count(*)::BIGINT AS nxy
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    mx AS (SELECT x, sum(nxy)::BIGINT AS nx FROM cells GROUP BY x),
    my AS (SELECT y, sum(nxy)::BIGINT AS ny FROM cells GROUP BY y),
    tot AS (SELECT sum(nxy)::BIGINT AS n FROM cells),
    mi AS (
      SELECT sum(c.nxy * ({_LN6.format(arg='t.n * c.nxy')}
                          - {_LN6.format(arg='mx.nx * my.ny')}))::BIGINT
               AS mi_micro
      FROM cells c
      JOIN mx ON mx.x = c.x
      JOIN my ON my.y = c.y
      CROSS JOIN tot t
    ),
    hx AS (
      SELECT t.n * {_LN6.format(arg='t.n')}
             - sum(mx.nx * {_LN6.format(arg='mx.nx')}) AS hx_micro
      FROM mx CROSS JOIN tot t
      GROUP BY t.n
    )
    SELECT (SELECT count(*) FROM cells)::BIGINT AS n_cells,
           (SELECT n FROM tot) AS n_rows,
           CAST(floor(CAST(mi.mi_micro AS DOUBLE)
                 / CAST((SELECT n FROM tot) AS DOUBLE)) AS BIGINT)
             AS mi_micronats,
           CAST(floor(least(greatest(
                 CAST(mi.mi_micro AS DOUBLE) / CAST(hx.hx_micro AS DOUBLE) * 1e6,
                 -9.0e18), 9.0e18)) AS BIGINT) AS theil_u_mu
    FROM mi CROSS JOIN hx
    """,
    tags=("robust-stats", "mutual-information", "theil-u", "association"),
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between market segment and order
    priority, in nats, plus Theil's uncertainty coefficient
    U(X|Y) = I(X;Y)/H(X) — the DIRECTIONAL association measure that
    complements q417's symmetric Cramér's V ('knowing priority removes
    what fraction of segment uncertainty?').

    Determinism: the q151 ln discipline — every ln sees an INTEGER
    argument (N·n_xy, n_x·n_y, n_x, N), floored to micro-nats per
    distinct cell; MI and H(X) accumulate as exact integer sums with
    the SAME N·10⁶ scale, so U is one division of two integers and the
    scale cancels exactly.

    Scale: one codegen hash-agg to the |X|·|Y| contingency grid (25
    cells); marginals and totals are grid rollups; the 1-row total
    broadcasts via cross join. Fact table is scanned once."""
    cells = materialize(
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("x"), F.col("o_orderpriority").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    mx = cells.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))

    def ln6(arg: str) -> str:
        return f"CAST(floor(1000000.0 * ln(CAST({arg} AS DOUBLE))) AS BIGINT)"

    mi = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(
                F.expr(f"nxy * ({ln6('n * nxy')} - {ln6('nx * ny')})")
            ).alias("mi_micro")
        )
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(F.sum(F.expr(f"nx * {ln6('nx')}")).alias("sxh"))
        .select((F.expr(f"n * {ln6('n')}") - F.col("sxh")).alias("hx_micro"))
    )
    n_cells = cells.agg(F.count(F.lit(1)).alias("n_cells"))
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(n_cells))
        .select(
            "n_cells",
            F.col("n").alias("n_rows"),
            # floor-µ outputs (SCALE.md round-on-quotient ban); the double
            # floor (not integer div) keeps negative floor semantics
            # identical across engines
            F.floor(F.col("mi_micro").cast("double") / F.col("n").cast("double"))
            .cast("bigint")
            .alias("mi_micronats"),
            F.expr(
                "CAST(floor(least(greatest(CAST(mi_micro AS DOUBLE)"
                " / CAST(hx_micro AS DOUBLE) * 1e6, -9.0e18), 9.0e18))"
                " AS BIGINT)"
            ).alias("theil_u_mu"),
        )
    )


@query(
    "q448_lorenz_curve",
    oracle=f"""
    WITH r AS (
      SELECT rg.r_name AS region,
             CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents,
             c.c_custkey,
             ntile({_LORENZ_NTILES}) OVER (
               PARTITION BY rg.r_name
               ORDER BY CAST(round(c.c_acctbal * 100) AS BIGINT), c.c_custkey
             ) AS decile
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region rg ON rg.r_regionkey = n.n_regionkey
    ),
    d AS (
      SELECT region, decile, count(*)::BIGINT AS pop,
             sum(cents)::BIGINT AS wealth
      FROM r GROUP BY 1, 2
    ),
    c AS (
      SELECT region, decile, pop, wealth,
             sum(pop) OVER (PARTITION BY region ORDER BY decile)::BIGINT AS cum_pop,
             sum(wealth) OVER (PARTITION BY region ORDER BY decile)::BIGINT
               AS cum_wealth,
             sum(pop) OVER (PARTITION BY region)::BIGINT AS tot_pop,
             sum(wealth) OVER (PARTITION BY region)::BIGINT AS tot_wealth
      FROM d
    )
    SELECT region, decile, cum_pop, cum_wealth,
           CAST(floor(CAST(cum_wealth AS DOUBLE) / CAST(tot_wealth AS DOUBLE)
                 * 1e6) AS BIGINT) AS wealth_share_mu
    FROM c ORDER BY region, decile
    """,
    tags=("robust-stats", "lorenz", "inequality", "window"),
)
def lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve decile points per region: rank customers by account
    balance (ties broken by key — a total order), split into {n}
    deciles, and report each decile's cumulative wealth share — the
    curve whose area defect is q343's Gini. Negative balances make the
    curve dip below zero at the left tail, as the real Lorenz curve
    does for net-worth data.

    Determinism: cents are integers; ntile over a total order is
    engine-identical; cumulative pops/wealths are integer window sums;
    the share is one double division per decile row, floor-quantized
    to integer µ.

    Scale: the only row-level window is the per-region ntile (a sort
    within the region partition — the same cost class as any ranked
    window); everything after is algebra on the region×{n} grid.""".format(
        n=_LORENZ_NTILES
    )
    r = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
            "c_custkey",
        )
        .withColumn(
            "decile",
            F.ntile(_LORENZ_NTILES).over(
                W.partitionBy("region").orderBy("cents", "c_custkey")
            ),
        )
    )
    d = r.groupBy("region", "decile").agg(
        F.count(F.lit(1)).alias("pop"), F.sum("cents").alias("wealth")
    )
    w_cum = W.partitionBy("region").orderBy("decile")
    w_all = W.partitionBy("region")
    return (
        d.withColumn("cum_pop", F.sum("pop").over(w_cum))
        .withColumn("cum_wealth", F.sum("wealth").over(w_cum))
        .withColumn("tot_wealth", F.sum("wealth").over(w_all))
        .select(
            "region",
            "decile",
            "cum_pop",
            "cum_wealth",
            # floor-µ (SCALE.md round-on-quotient ban); double floor keeps
            # the below-zero left tail's negative semantics engine-identical
            F.floor(
                F.col("cum_wealth").cast("double")
                / F.col("tot_wealth").cast("double")
                * 1e6
            )
            .cast("bigint")
            .alias("wealth_share_mu"),
        )
        .orderBy("region", "decile")
    )


@query(
    "q449_yule_walker_ar2",
    oracle=f"""
    WITH daily AS ({_DUCK_DAILY}),
    lags AS (SELECT unnest(range(1, 3)) AS lag),
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
    ),
    r AS (
      SELECT event_type, lag, {_PEARSON_NUM} / {_PEARSON_DEN} AS r
      FROM s
    ),
    wide AS (
      SELECT event_type,
             max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2
      FROM r GROUP BY event_type
    )
    SELECT event_type,
           CAST(floor(r1 * 1e6) AS BIGINT) AS r1_mu,
           CAST(floor(r2 * 1e6) AS BIGINT) AS r2_mu,
           CAST(floor(least(greatest(r1 * (1 - r2) / (1 - r1 * r1) * 1e6,
                                     -9.0e18), 9.0e18)) AS BIGINT) AS phi1_mu,
           CAST(floor(least(greatest((r2 - r1 * r1) / (1 - r1 * r1) * 1e6,
                                     -9.0e18), 9.0e18)) AS BIGINT) AS phi2_mu
    FROM wide ORDER BY event_type
    """,
    tags=("robust-stats", "yule-walker", "ar2", "timeseries"),
)
def yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule–Walker AR(2) fit per event type: solve the 2×2 Toeplitz
    system closed-form from the lag-1/lag-2 sample autocorrelations
    (q442's pair-based estimator): φ₁ = r₁(1−r₂)/(1−r₁²),
    φ₂ = (r₂−r₁²)/(1−r₁²) — the model behind 'is yesterday or the day
    before driving today?'.

    Determinism: r₁/r₂ are the q442 integer-sum Pearson form (exact
    integers + correctly-rounded sqrt), so both engines hold identical
    doubles; the closed-form φ algebra is the same IEEE expression,
    floor-quantized to µ-units in-query (SCALE.md round-on-quotient ban).

    Scale: reuses the (type, day) grid pass; the lag dimension is a
    broadcast 2-row table; the pivot to (r1, r2) is a 2-row-per-type
    conditional agg — cost is the single fact-table hash-agg."""
    daily = _daily_counts(spark, sf_dir)
    lags = spark.range(1, 3).select(F.col("id").alias("lag"))
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
    r = s.withColumn("r", F.expr(f"{_PEARSON_NUM} / {_PEARSON_DEN}"))
    wide = r.groupBy("event_type").agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
    )
    # floor-µ outputs (SCALE.md round-on-quotient ban): r1/r2 are
    # engine-identical doubles; quantize by floor, never round
    return wide.select(
        "event_type",
        F.floor(F.col("r1") * 1e6).cast("bigint").alias("r1_mu"),
        F.floor(F.col("r2") * 1e6).cast("bigint").alias("r2_mu"),
        # clamp before the cast: a near-unit r1 sends the quotient past
        # int64, where DuckDB's cast errors but Spark's saturates (r8
        # review); least/greatest on doubles is engine-identical
        F.expr(
            "CAST(floor(least(greatest(r1 * (1 - r2) / (1 - r1 * r1) * 1e6,"
            " -9.0e18), 9.0e18)) AS BIGINT)"
        ).alias("phi1_mu"),
        F.expr(
            "CAST(floor(least(greatest((r2 - r1 * r1) / (1 - r1 * r1) * 1e6,"
            " -9.0e18), 9.0e18)) AS BIGINT)"
        ).alias("phi2_mu"),
    ).orderBy("event_type")
