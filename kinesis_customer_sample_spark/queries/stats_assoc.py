"""Association & classical-statistics wave (round 7, SURVEY.md §2B): the
six rank/association/drift statistics an analytics platform layers on top
of its aggregates — Spearman rank correlation, Kendall tau-b, one-way
ANOVA, Cramér's V, Jensen–Shannon divergence between corpora, and the
Population Stability Index (PSI) drift monitor. Complements stats_tests.py
(KS / Mann–Whitney / bootstrap / A-B z-test) and attribution_stats.py
(chi-square independence): those test *location*; these measure
*association strength* and *distribution drift*.

Cross-engine determinism (registry parity rules, applied strictly):
- every rank is the ALL-INTEGER doubled average rank (rank2 = 2·c_before
  + cnt + 1 — the q259/q281 tied-rank identity), so ties are honest and
  identical in both engines;
- ln only ever sees INTEGER arguments (the q151 discipline): KL/PSI terms
  are Σ count·(⌊10⁶ln a⌋ − ⌊10⁶ln b⌋) with a, b integer cross-products;
- squared-sum ratios that would overflow int64 use the exact two-step
  long division  ⌊s²/n⌋ = q·s + ⌊r·s/n⌋  (q = s div n, r = s − q·n) —
  integer end to end, no double until the final projection;
- the final F / V / rho / tau ratios are single double expressions over
  identical integers, rounded in-query on both sides.

Scale posture (100 TB):
- Spearman's rank grids cumulate with the two-level bucket-window shape
  (q281): a partitioned local cumsum per (group, value-bucket) plus a
  tiny per-bucket offset join — never a global ordered window over rows.
- Kendall pairs join the (x, y) CELL grid with itself (≤ |X|·|Y| cells
  per group — 550 here), never the row pairs: cost is grid², rows never
  self-join.
- ANOVA / Cramér's V / JSD / PSI are one hash-agg to a small grid plus
  grid algebra; contingency/bucket grids are broadcast-sized by
  construction.

No counterpart in the reference snapshot (its pipeline stops at
real-time counts, docs/user-guide.md:58-145); mandated by the expanded
§2B statistics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.text_analysis import (
    _DUCK_TOKS,
    _docs_with_tokens,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# Spearman: y = extendedprice cents bucketed for the two-level cumsum
_SP_BUCKET = 100_000
# JSD corpus pair
_JSD_A, _JSD_B = "src0", "src1"
# PSI: fixed-width value buckets (50-dollar bands, capped at band 9) and
# the baseline/current split date
_PSI_BAND = 50.0
_PSI_NBANDS = 10
_PSI_SPLIT = "2024-01-08"


def _rank2_grid(grid: DataFrame, gcols: list[str], vcol: str, bucket: int) -> DataFrame:
    """(g…, v, cnt) grid → (g…, v, cnt, rank2) where rank2 is the doubled
    average (midrank) of value v within group g…: 2·c_before + cnt + 1.

    Two-level cumsum (the q281 shape): local running sum inside
    (g…, v div bucket) windows, then a per-bucket offset from the tiny
    bucket-total grid via a triangular join — no `No Partition Defined`
    window anywhere."""
    g = grid.withColumn("bucket", F.expr(f"{vcol} div {bucket}"))
    w_loc = (
        W.partitionBy(*gcols, "bucket")
        .orderBy(vcol)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = g.withColumn("lc", F.sum("cnt").over(w_loc))
    totals = g.groupBy(*gcols, "bucket").agg(F.sum("cnt").alias("t"))
    same_g = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in gcols]
    cond = same_g[0]
    for extra in same_g[1:]:
        cond = cond & extra
    starts = (
        totals.alias("a")
        .join(totals.alias("b"), cond & (F.col("b.bucket") < F.col("a.bucket")), "left")
        .groupBy(
            *[F.col(f"a.{c}").alias(c) for c in gcols],
            F.col("a.bucket").alias("bucket"),
        )
        .agg(F.coalesce(F.sum("b.t"), F.lit(0)).alias("st"))
    )
    return local.join(F.broadcast(starts), [*gcols, "bucket"]).select(
        *gcols,
        vcol,
        "cnt",
        (
            2 * (F.col("st") + F.col("lc") - F.col("cnt")) + F.col("cnt") + F.lit(1)
        ).alias("rank2"),
    )


@query(
    "q414_spearman_rank_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             l_quantity::BIGINT AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    ranked AS (
      SELECT grp,
             2 * rank() OVER (PARTITION BY grp ORDER BY x)
               + count(*) OVER (PARTITION BY grp, x) - 1 AS rx2,
             2 * rank() OVER (PARTITION BY grp ORDER BY y)
               + count(*) OVER (PARTITION BY grp, y) - 1 AS ry2
      FROM r
    ),
    s AS (
      SELECT grp, count(*)::BIGINT AS n,
             sum(rx2)::BIGINT AS sx, sum(ry2)::BIGINT AS sy,
             sum(rx2 * rx2)::BIGINT AS sxx, sum(ry2 * ry2)::BIGINT AS syy,
             sum(rx2 * ry2)::BIGINT AS sxy
      FROM ranked GROUP BY 1
    )
    SELECT grp, n,
           CAST(floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                 * 1e6) AS BIGINT) AS rho_mu
    FROM s ORDER BY grp
    """,
    tags=("stats", "association", "spearman", "rank"),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of (quantity, revenue) per return flag —
    the monotonic-association measure that survives outliers and
    nonlinearity (Pearson on midranks). Ties get the exact doubled
    average rank (rank2 = 2·c_before + cnt + 1 — integer, the q281
    identity), computed on the distinct-VALUE grid with the two-level
    bucket-window cumsum, then joined back to rows; one final hash-agg
    collects the six integer Pearson sufficient statistics and the only
    double arithmetic is the closed-form rho (identical single-expression
    IEEE sequence both engines, rounded 6dp in-query).

    Scale posture: ranks live on the per-group distinct-value grids (x:
    ≤50 rows, y: ≤|distinct cents|), never on rows; the row-side work is
    two grid joins (x-grid broadcast-small) and one map-side-combined
    agg. Int64 headroom: n·Σ(rank2²) needs n²·(2n)² < 2⁶³ → n ≲ 2·10⁵
    per group at exact integer width; beyond that the final combination
    is already double (documented, same shape as q412's µ-nat floors).
    """
    rows = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    # ONE melted rank chain for both axes (axis becomes part of the window
    # key), materialized: without the barrier the final join re-executes the
    # whole grid machinery once per branch (measured 8.6 s → ~3 s at sf0.1)
    melted = rows.select(
        "grp", F.lit("x").alias("ax"), F.col("x").alias("v")
    ).unionByName(rows.select("grp", F.lit("y").alias("ax"), F.col("y").alias("v")))
    grid = melted.groupBy("grp", "ax", "v").agg(F.count(F.lit(1)).alias("cnt"))
    ranks = materialize(_rank2_grid(grid, ["grp", "ax"], "v", _SP_BUCKET))
    rx = ranks.filter(F.col("ax") == "x").select(
        "grp", F.col("v").alias("x"), F.col("rank2").alias("rx2")
    )
    ry = ranks.filter(F.col("ax") == "y").select(
        "grp", F.col("v").alias("y"), F.col("rank2").alias("ry2")
    )
    joined = rows.join(F.broadcast(rx), ["grp", "x"]).join(ry, ["grp", "y"])
    s = joined.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        "grp",
        "n",
        # floor-µ, not round(x, 6): rho is a signed float quotient
        # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
        F.floor(
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / F.sqrt(
                (d("n") * d("sxx") - d("sx") * d("sx"))
                * (d("n") * d("syy") - d("sy") * d("sy"))
            )
            * F.lit(1e6)
        ).cast("bigint").alias("rho_mu"),
    ).orderBy("grp")


@query(
    "q415_kendall_tau_b",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             l_quantity::BIGINT AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT grp, x, y, count(*)::BIGINT AS c FROM r GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT a.grp,
             sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)::BIGINT AS nc,
             sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)::BIGINT AS nd
      FROM cells a JOIN cells b
        ON a.grp = b.grp AND a.x < b.x
      GROUP BY 1
    ),
    tx AS (
      SELECT grp, sum(t * (t - 1) // 2)::BIGINT AS n1
      FROM (SELECT grp, x, sum(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1
    ),
    ty AS (
      SELECT grp, sum(t * (t - 1) // 2)::BIGINT AS n2
      FROM (SELECT grp, y, sum(c) AS t FROM cells GROUP BY 1, 2) GROUP BY 1
    ),
    n_ AS (SELECT grp, count(*)::BIGINT AS n FROM r GROUP BY 1)
    SELECT n_.grp, n_.n, p.nc AS n_conc, p.nd AS n_disc,
           CAST(floor((p.nc - p.nd)::DOUBLE
                 / sqrt((n_.n * (n_.n - 1) / 2 - tx.n1)::DOUBLE
                        * (n_.n * (n_.n - 1) / 2 - ty.n2)::DOUBLE)
                 * 1e6) AS BIGINT) AS tau_b_mu
    FROM n_ JOIN pairs p ON p.grp = n_.grp
    JOIN tx ON tx.grp = n_.grp JOIN ty ON ty.grp = n_.grp
    ORDER BY n_.grp
    """,
    tags=("stats", "association", "kendall", "rank"),
)
def kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b of (quantity, discount) per return flag — the
    concordance statistic whose naive form is an O(n²) row self-join.
    Here the rows collapse to the (x, y) CELL grid first (≤ 50·11 cells
    per group), and concordant/discordant masses come from the grid's
    self-join weighted by cell-count products: nc = Σ_{x₁<x₂,y₁<y₂}
    c₁c₂. Tie corrections n₁/n₂ are marginal-count algebra; tau_b =
    (nc−nd)/√((n₀−n₁)(n₀−n₂)) is the one double expression, rounded
    in-query.

    Scale posture: grid² (≤ 550² per group) replaces rows² (4·10⁸ at
    sf0.01 — five orders); the row table is touched by exactly one
    hash-agg. The grid join IS a theta join (x₁ < x₂) but over a
    provably grid-sized input — the same bounded-grid argument as
    q262/q282."""
    rows = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    cells = materialize(rows.groupBy("grp", "x", "y").agg(F.count(F.lit(1)).alias("c")))
    pairs = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.grp") == F.col("b.grp")) & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.grp").alias("grp"))
        .agg(
            F.sum(
                F.when(F.col("a.y") < F.col("b.y"), F.col("a.c") * F.col("b.c"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("nc"),
            F.sum(
                F.when(F.col("a.y") > F.col("b.y"), F.col("a.c") * F.col("b.c"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("nd"),
        )
    )
    tx = (
        cells.groupBy("grp", "x")
        .agg(F.sum("c").alias("t"))
        .groupBy("grp")
        .agg(F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("n1"))
    )
    ty = (
        cells.groupBy("grp", "y")
        .agg(F.sum("c").alias("t"))
        .groupBy("grp")
        .agg(F.sum(F.expr("t * (t - 1) div 2")).cast("bigint").alias("n2"))
    )
    n_ = cells.groupBy("grp").agg(F.sum("c").cast("bigint").alias("n"))
    out = (
        n_.join(pairs, "grp")
        .join(F.broadcast(tx), "grp")
        .join(F.broadcast(ty), "grp")
        .select(
            "grp",
            "n",
            F.col("nc").alias("n_conc"),
            F.col("nd").alias("n_disc"),
            # floor-µ, not round(x, 6): tau_b is a signed float quotient
            # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
            F.floor(
                (F.col("nc") - F.col("nd")).cast("double")
                / F.sqrt(
                    F.expr("CAST(n * (n - 1) / 2 - n1 AS DOUBLE)")
                    * F.expr("CAST(n * (n - 1) / 2 - n2 AS DOUBLE)")
                )
                * F.lit(1e6)
            ).cast("bigint").alias("tau_b_mu"),
        )
        .orderBy("grp")
    )
    return out


@query(
    "q416_anova_oneway",
    oracle="""
    WITH v AS (
      SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    g AS (
      SELECT grp, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
             sum(v * v)::BIGINT AS q
      FROM v GROUP BY 1
    ),
    -- exact ⌊s²/n⌋ via two-step long division (s² would overflow int64)
    gf AS (
      SELECT grp, n, s, q,
             (s // n) * s + ((s - (s // n) * n) * s) // n AS fl
      FROM g
    ),
    tot AS (
      SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn, sum(s)::BIGINT AS ss,
             sum(q)::BIGINT AS qq, sum(fl)::BIGINT AS sfl
      FROM gf
    )
    SELECT k AS n_groups, nn AS n_total,
           (sfl - ((ss // nn) * ss + ((ss - (ss // nn) * nn) * ss) // nn))::BIGINT
             AS ss_between,
           (qq - sfl)::BIGINT AS ss_within,
           CAST(floor(((sfl - ((ss // nn) * ss + ((ss - (ss // nn) * nn) * ss) // nn))::DOUBLE
                  / (k - 1))
                 / ((qq - sfl)::DOUBLE / (nn - k)) * 1e6) AS BIGINT) AS f_stat_mu
    FROM tot
    """,
    tags=("stats", "anova", "variance-decomposition"),
)
def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F over event value by event type — does the mean
    spend differ across event types? The entire decomposition runs on
    three integer sufficient statistics per group (n, Σv, Σv² in cents):
    SSB = Σ⌊s_g²/n_g⌋ − ⌊S²/N⌋ and SSW = ΣQ − Σ⌊s_g²/n_g⌋, where each
    ⌊s²/n⌋ is the EXACT two-step long division q·s + ⌊r·s/n⌋ (s² itself
    would overflow int64 — the division never materializes it). Flooring
    each term costs < k cents² of SS — deterministic and identical in
    both engines; F is the one double expression, floor-µ-quantized on
    output (round-on-quotient outputs banned per SCALE.md).

    Scale posture: one map-side-combined hash-agg to the k-row group
    grid, then grid algebra — the same shape at 60k rows and 100 TB.
    Σv² headroom: v ≤ 5·10⁴ cents → n ≲ 3.7·10⁹ rows per group before
    int64 overflow; past that the cents quantum widens (documented)."""
    v = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    g = v.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q"),
    )
    gf = g.withColumn(
        "fl", F.expr("(s div n) * s + ((s - (s div n) * n) * s) div n")
    )
    tot = gf.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ss"),
        F.sum("q").cast("bigint").alias("qq"),
        F.sum("fl").cast("bigint").alias("sfl"),
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_total"),
        F.expr(
            "CAST(sfl - ((ss div nn) * ss + ((ss - (ss div nn) * nn) * ss) div nn)"
            " AS BIGINT)"
        ).alias("ss_between"),
        (F.col("qq") - F.col("sfl")).cast("bigint").alias("ss_within"),
        # floor-µ, not round(x, 6): F is a float quotient
        # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
        F.expr(
            "CAST(floor((CAST(sfl - ((ss div nn) * ss + ((ss - (ss div nn) * nn) * ss)"
            " div nn) AS DOUBLE) / (k - 1))"
            " / (CAST(qq - sfl AS DOUBLE) / (nn - k)) * 1e6) AS BIGINT)"
        ).alias("f_stat_mu"),
    )


@query(
    "q417_cramers_v",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg, n.n_name AS nat
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    o AS (SELECT seg, nat, count(*)::BIGINT AS obs FROM base GROUP BY 1, 2),
    r AS (SELECT seg, sum(obs)::BIGINT AS rt FROM o GROUP BY 1),
    c AS (SELECT nat, sum(obs)::BIGINT AS ct FROM o GROUP BY 1),
    t AS (SELECT sum(obs)::BIGINT AS n FROM o),
    terms AS (
      -- chi² cell term in basis points: ⌊10⁴·(n·O − R·C)²/(n·R·C)⌋ via
      -- two-step long division (numerator·10⁴ would overflow int64)
      SELECT ((n * obs - rt * ct) * (n * obs - rt * ct) // (n * rt * ct)) * 10000
             + (((n * obs - rt * ct) * (n * obs - rt * ct)
                 - ((n * obs - rt * ct) * (n * obs - rt * ct) // (n * rt * ct))
                   * (n * rt * ct)) * 10000) // (n * rt * ct) AS term_bp
      FROM o JOIN r USING (seg) JOIN c USING (nat) CROSS JOIN t
    ),
    dims AS (
      SELECT (SELECT count(DISTINCT seg) FROM o)::BIGINT AS nr,
             (SELECT count(DISTINCT nat) FROM o)::BIGINT AS nc,
             (SELECT n FROM t) AS n,
             (SELECT sum(term_bp) FROM terms)::BIGINT AS chi2_bp
    )
    SELECT n, nr AS n_rows_dim, nc AS n_cols_dim, chi2_bp,
           CAST(floor(sqrt((chi2_bp::DOUBLE / 10000)
                      / (n::DOUBLE * least(nr - 1, nc - 1))) * 1e6) AS BIGINT)
             AS cramers_v_mu
    FROM dims
    """,
    tags=("stats", "association", "chi-square", "categorical"),
)
def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between market segment and nation — the normalized
    [0,1] strength of a categorical association (chi-square alone grows
    with n; V is comparable across tables). Each chi² cell term is
    integer basis points via cross-multiplication — (n·O−R·C)²/(n·R·C),
    never O/n − (R/n)(C/n) — with the two-step long division because
    term·10⁴ exceeds int64; the integer terms sum order-insensitively
    and only the final sqrt is double.

    Scale posture: fact → one hash-agg to the seg×nation grid (125
    cells); marginals and the total are grid rollups; the dim join
    broadcasts. Identical plan at any n."""
    nat = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nat")
    )
    base = (
        table(spark, sf_dir, "customer")
        .select("c_nationkey", F.col("c_mktsegment").alias("seg"))
        .join(F.broadcast(nat), "c_nationkey")
    )
    o = base.groupBy("seg", "nat").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    o = materialize(o)
    r = o.groupBy("seg").agg(F.sum("obs").cast("bigint").alias("rt"))
    c = o.groupBy("nat").agg(F.sum("obs").cast("bigint").alias("ct"))
    t = o.agg(F.sum("obs").cast("bigint").alias("n"))
    terms = (
        o.join(F.broadcast(r), "seg")
        .join(F.broadcast(c), "nat")
        .crossJoin(F.broadcast(t))
        .select(
            F.expr(
                "((n * obs - rt * ct) * (n * obs - rt * ct) div (n * rt * ct))"
                " * 10000"
                " + (((n * obs - rt * ct) * (n * obs - rt * ct)"
                "     - ((n * obs - rt * ct) * (n * obs - rt * ct)"
                "        div (n * rt * ct)) * (n * rt * ct)) * 10000)"
                "   div (n * rt * ct)"
            ).alias("term_bp"),
        )
    )
    # nr/nc come from the marginal grids (they ARE the distinct counts) —
    # a countDistinct here would Expand-multiply and re-run the whole
    # chain per distinct aggregate (measured 8.7 s → <1 s at sf0.1)
    chi2 = terms.agg(F.sum("term_bp").cast("bigint").alias("chi2_bp"))
    nr = r.agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    nc = c.agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    dims = (
        chi2.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
    )
    return dims.select(
        "n",
        F.col("nr").alias("n_rows_dim"),
        F.col("nc").alias("n_cols_dim"),
        "chi2_bp",
        # floor-µ, not round(x, 6): V is a float sqrt-of-quotient
        # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
        F.floor(
            F.sqrt(
                (F.col("chi2_bp").cast("double") / 10000)
                / (F.col("n").cast("double") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            )
            * F.lit(1e6)
        ).cast("bigint").alias("cramers_v_mu"),
    )


@query(
    "q418_js_divergence",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_DUCK_TOKS}) AS tok
      FROM documents WHERE source IN ('{_JSD_A}', '{_JSD_B}')
    ),
    cnt AS (
      SELECT tok,
             sum(CASE WHEN source = '{_JSD_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN source = '{_JSD_B}' THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM toks GROUP BY 1
    ),
    tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM cnt),
    terms AS (
      -- p/m = 2·ca·nb/(ca·nb + cb·na): ln only sees integer products
      SELECT
        CASE WHEN ca > 0 THEN ca * (floor(ln(2 * ca * nb) * 1000000)::BIGINT
                                    - floor(ln(ca * nb + cb * na) * 1000000)::BIGINT)
             ELSE 0 END AS ta,
        CASE WHEN cb > 0 THEN cb * (floor(ln(2 * cb * na) * 1000000)::BIGINT
                                    - floor(ln(ca * nb + cb * na) * 1000000)::BIGINT)
             ELSE 0 END AS tb
      FROM cnt CROSS JOIN tot
    ),
    s AS (
      SELECT (SELECT na FROM tot) AS na, (SELECT nb FROM tot) AS nb,
             (SELECT count(*) FROM cnt)::BIGINT AS n_tokens,
             sum(ta)::BIGINT AS suma, sum(tb)::BIGINT AS sumb
      FROM terms
    )
    SELECT n_tokens, na, nb,
           (suma // na)::BIGINT AS kl_a_mu,
           (sumb // nb)::BIGINT AS kl_b_mu,
           ((suma // na + sumb // nb) // 2)::BIGINT AS jsd_mu
    FROM s
    """,
    tags=("stats", "divergence", "text", "drift"),
)
def js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the token distributions of two
    corpus sources — the symmetric, bounded [0, ln2] divergence used to
    quantify domain shift between training-data slices (KL alone is
    infinite on unshared vocabulary; JSD's mixture M absorbs it). Each
    KL(P‖M) term is exact integer algebra: p/m = 2·ca·Nb/(ca·Nb+cb·Na),
    so ln only ever sees integer cross-products (the q151 discipline)
    and the µ-nat sums are order-insensitive integers.

    Scale posture: one tokenize pass (`_docs_with_tokens`), one hash-agg to the token grid with both corpus counts as
    conditional sums (no join of two scans), broadcast totals. The token
    grid IS the vocabulary — bounded far below row count."""
    toks = (
        _docs_with_tokens(spark, sf_dir)
        .filter(F.col("source").isin(_JSD_A, _JSD_B))
        .select("source", F.explode("toks").alias("tok"))
    )
    cnt = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == _JSD_A, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("source") == _JSD_B, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    tot = F.broadcast(
        cnt.agg(
            F.sum("ca").cast("bigint").alias("na"),
            F.sum("cb").cast("bigint").alias("nb"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    terms = cnt.crossJoin(tot).select(
        "na",
        "nb",
        "n_tokens",
        F.expr(
            "CASE WHEN ca > 0 THEN ca * (CAST(floor(ln(2 * ca * nb) * 1000000)"
            " AS BIGINT) - CAST(floor(ln(ca * nb + cb * na) * 1000000) AS BIGINT))"
            " ELSE 0 END"
        ).alias("ta"),
        F.expr(
            "CASE WHEN cb > 0 THEN cb * (CAST(floor(ln(2 * cb * na) * 1000000)"
            " AS BIGINT) - CAST(floor(ln(ca * nb + cb * na) * 1000000) AS BIGINT))"
            " ELSE 0 END"
        ).alias("tb"),
    )
    s = terms.groupBy("na", "nb", "n_tokens").agg(
        F.sum("ta").cast("bigint").alias("suma"),
        F.sum("tb").cast("bigint").alias("sumb"),
    )
    return s.select(
        "n_tokens",
        "na",
        "nb",
        F.expr("suma div na").cast("bigint").alias("kl_a_mu"),
        F.expr("sumb div nb").cast("bigint").alias("kl_b_mu"),
        F.expr("(suma div na + sumb div nb) div 2").cast("bigint").alias("jsd_mu"),
    )


@query(
    "q419_psi_drift",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             least(floor(value / {_PSI_BAND})::BIGINT, {_PSI_NBANDS - 1}) AS band,
             (ts < TIMESTAMP '{_PSI_SPLIT} 00:00:00') AS is_base
      FROM events
    ),
    grid AS (
      SELECT t.event_type, b.band
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT unnest(range({_PSI_NBANDS}))::BIGINT AS band) b
    ),
    cnt AS (
      SELECT g.event_type, g.band,
             coalesce(sum(CASE WHEN e.is_base THEN 1 ELSE 0 END), 0)::BIGINT + 1 AS ca,
             coalesce(sum(CASE WHEN NOT e.is_base THEN 1 ELSE 0 END), 0)::BIGINT + 1 AS cb
      FROM grid g LEFT JOIN e
        ON e.event_type = g.event_type AND e.band = g.band
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
      FROM cnt GROUP BY 1
    ),
    terms AS (
      SELECT c.event_type,
             ((c.ca * t.nb - c.cb * t.na)
              * (floor(ln(c.ca * t.nb) * 1000000)::BIGINT
                 - floor(ln(c.cb * t.na) * 1000000)::BIGINT))
               // (t.na * t.nb) AS term_mu
      FROM cnt c JOIN tot t USING (event_type)
    )
    SELECT t.event_type,
           t.na - {_PSI_NBANDS} AS n_base, t.nb - {_PSI_NBANDS} AS n_current,
           sum(term_mu)::BIGINT AS psi_mu
    FROM terms x JOIN tot t USING (event_type)
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
    tags=("stats", "drift", "psi", "monitoring"),
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — THE model-monitoring
    drift score: PSI = Σ_bands (p_base − p_cur)·ln(p_base/p_cur) between
    the baseline week and the rest of the window, over fixed-width value
    bands with add-one smoothing (so empty bands are finite and the band
    grid is complete by construction). Cross-multiplied into integers:
    term = (ca·Nb − cb·Na)·(⌊10⁶ln(ca·Nb)⌋ − ⌊10⁶ln(cb·Na)⌋) / (Na·Nb)
    — ln sees only integer products, sums are integer µ-nats.

    Scale posture: ONE pass over the fact with a map-side band/period
    classification and one hash-agg to the (type × 10-band) grid;
    everything downstream runs on that bounded grid — each type's band
    counts roll into a ≤10-entry map so the complete 0..9 grid explodes
    from ONE reference to the aggregate (the original distinct-types +
    LEFT-join shape referenced the fact subtree twice), and the per-type
    totals are a window over the grid partitioned by event_type (not a
    re-derived broadcast aggregate, which re-ran the whole fact subtree
    — the round-15 scan census measured the original shape at FOUR fact
    scans; `test_q419_single_fact_scan` now pins 1). PSI > 0.2 is the
    conventional repartition-your-model alarm; emitting µ-nats keeps
    the gate integer."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.least(
            F.floor(F.col("value") / _PSI_BAND).cast("bigint"),
            F.lit(_PSI_NBANDS - 1),
        ).alias("band"),
        (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("is_base"),
    )
    agg = e.groupBy("event_type", "band").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("ra"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("rb"),
    )
    # complete-grid construction WITHOUT a second reference to the fact
    # subtree: roll the (≤10-row) band counts of each type into a map,
    # then explode the full 0..9 band range against it — the aggregate
    # is consumed exactly once, so the plan carries exactly one fact scan
    per_type = agg.groupBy("event_type").agg(
        F.map_from_entries(
            F.collect_list(F.struct("band", F.struct("ra", "rb")))
        ).alias("m")
    )
    cnt = per_type.select(
        "event_type",
        "m",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(_PSI_NBANDS - 1).cast("bigint"))
        ).alias("band"),
    ).select(
        "event_type",
        "band",
        (F.coalesce(F.col("m")[F.col("band")]["ra"], F.lit(0)) + 1)
        .cast("bigint")
        .alias("ca"),
        (F.coalesce(F.col("m")[F.col("band")]["rb"], F.lit(0)) + 1)
        .cast("bigint")
        .alias("cb"),
    )
    # per-type totals via a window over the bounded grid (types × 10 rows),
    # partitioned by event_type — a groupBy + broadcast-join-back would
    # re-derive cnt's entire subtree a second time
    wt = W.partitionBy("event_type")
    terms = cnt.select(
        "event_type",
        F.sum("ca").over(wt).cast("bigint").alias("na"),
        F.sum("cb").over(wt).cast("bigint").alias("nb"),
        "ca",
        "cb",
    ).select(
        "event_type",
        "na",
        "nb",
        F.expr(
            "((ca * nb - cb * na) * (CAST(floor(ln(ca * nb) * 1000000) AS BIGINT)"
            " - CAST(floor(ln(cb * na) * 1000000) AS BIGINT))) div (na * nb)"
        ).alias("term_mu"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            (F.first("na") - _PSI_NBANDS).cast("bigint").alias("n_base"),
            (F.first("nb") - _PSI_NBANDS).cast("bigint").alias("n_current"),
            F.sum("term_mu").cast("bigint").alias("psi_mu"),
        )
        .orderBy("event_type")
    )
