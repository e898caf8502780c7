"""Hypothesis testing & experiment analysis — round-3 wave (SURVEY.md §2B):
the statistical-inference layer a training-data/analytics platform runs on
top of its aggregates. Four operators: a Kolmogorov–Smirnov two-sample
test, a Mann–Whitney U rank-sum test (tie-corrected), a Poisson-bootstrap
confidence interval, and an A/B-experiment two-proportion z-test with
deterministic hash assignment.

Cross-engine determinism (registry parity rules, applied strictly here
because test statistics are ratios of large counts):
- every cumulative/rank quantity is INTEGER (cross-multiplied instead of
  divided: |c1·n2 − c2·n1| not |c1/n1 − c2/n2|); doubles appear only in
  the final projection, where each engine performs the identical sequence
  of correctly-rounded IEEE ops (÷, ·, sqrt) on identical integers;
- bootstrap randomness is the portable polynomial hash (functions/
  porthash.py), so replicate weights are identical integers both engines;
- Poisson(1) inverse-CDF thresholds are shared literal constants.

Scale posture (100 TB):
- ECDF prefix sums are TWO-LEVEL, never one global window (the q92
  packing pattern): cumulate within fixed-width value buckets under a
  partitioned window, then offset by the tiny per-bucket summary via a
  triangular join. No `WindowExec: No Partition Defined` anywhere — the
  distinct-value grid never serializes through one task.
- The bootstrap fans each row out ×B (map-side explode, no pre-shuffle)
  and reduces to B partial sums — one hash-agg whose state is B rows.
- The A/B test is one per-user agg then a 2-row arm rollup; assignment is
  a map-side hash, so the experiment needs no assignment table at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import tok_hash_expr
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_KS_A, _KS_B = "purchase", "click"
_BUCKET_WIDTH = 20.0  # fixed-width value buckets for the two-level cumsum

# Poisson(1) inverse-CDF thresholds (cumulative probabilities, shared
# literals with the oracle SQL so the CASE ladder is bit-identical)
_POIS_CDF = (
    0.3678794412,
    0.7357588823,
    0.9196986029,
    0.9810118431,
    0.9963401532,
    0.9994058152,
    0.9999167589,
)
_N_BOOT = 64

_AB_CONV_MIN = 150.0  # conversion := a purchase of at least this value


def _pois_case(u: str) -> str:
    """CASE ladder mapping a uniform u in [0,1) to a Poisson(1) draw.
    Same text both dialects (pure comparisons on shared literals)."""
    branches = " ".join(
        f"WHEN {u} < {p} THEN {i}" for i, p in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE {len(_POIS_CDF)} END)"


def _value_grid_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared front end for q258/q259: the pooled two-sample value grid
    with per-value counts and INCLUSIVE/EXCLUSIVE cumulative pooled
    counts, built with the two-level (bucket-partitioned window +
    triangular bucket-offset join) pattern so no window is global."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0)).alias("cnt1"),
        F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0)).alias("cnt2"),
    )
    g = g.withColumn("bucket", F.floor(F.col("value") / _BUCKET_WIDTH))
    w_loc = (
        W.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = g.select(
        "bucket",
        "value",
        "cnt1",
        "cnt2",
        F.sum("cnt1").over(w_loc).alias("lc1"),
        F.sum("cnt2").over(w_loc).alias("lc2"),
    )
    totals = g.groupBy("bucket").agg(
        F.sum("cnt1").alias("t1"), F.sum("cnt2").alias("t2")
    )
    starts = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(
            F.coalesce(F.sum("b.t1"), F.lit(0)).alias("s1"),
            F.coalesce(F.sum("b.t2"), F.lit(0)).alias("s2"),
        )
    )
    return local.join(F.broadcast(starts), "bucket").select(
        "value",
        "cnt1",
        "cnt2",
        (F.col("s1") + F.col("lc1")).alias("c1"),  # inclusive cumulative, sample 1
        (F.col("s2") + F.col("lc2")).alias("c2"),
    )


@query(
    "q258_ks_two_sample",
    oracle=f"""
    WITH g AS (
      SELECT value,
             sum(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS cnt1,
             sum(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS cnt2
      FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
      GROUP BY value
    ),
    c AS (
      SELECT sum(cnt1) OVER (ORDER BY value) AS c1,
             sum(cnt2) OVER (ORDER BY value) AS c2
      FROM g
    ),
    n AS (SELECT sum(cnt1) AS n1, sum(cnt2) AS n2 FROM g)
    SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
           max(abs(c1 * n2 - c2 * n1))::BIGINT AS d_num,
           round(max(abs(c1 * n2 - c2 * n1))::DOUBLE / (n1 * n2), 6) AS d_stat,
           round(max(abs(c1 * n2 - c2 * n1))::DOUBLE / (n1 * n2)
                 * sqrt((n1 * n2)::DOUBLE / (n1 + n2)), 6) AS ks_lambda,
           (max(abs(c1 * n2 - c2 * n1))::DOUBLE / (n1 * n2)
                 * sqrt((n1 * n2)::DOUBLE / (n1 + n2)) > 1.358) AS reject_005
    FROM c, n
    GROUP BY n1, n2
    """,
    tags=("stats", "hypothesis-test", "two-level-window"),
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: are purchase and click order
    values drawn from the same distribution? D = max over the pooled
    value grid of |F̂1 − F̂2|, kept integer as max|c1·n2 − c2·n1| (ECDF
    cross-multiplication) so the max is exact; the single division,
    sqrt-scaling to Kolmogorov's λ, and the α=0.05 decision (λ > 1.358)
    happen once in the final one-row projection. The ECDF prefix sums are
    the two-level bucket-window + triangular-offset shape — at 100 TB the
    grid cumulates partition-parallel, and the reduction to D is an
    ordinary max-agg. Oracle runs the textbook single-window form."""
    grid = _value_grid_cumulative(spark, sf_dir)
    n = grid.agg(
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum("cnt2").cast("bigint").alias("n2"),
    )
    d = F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
    lam = (
        d.cast("double")
        / (F.col("n1") * F.col("n2"))
        * F.sqrt((F.col("n1") * F.col("n2")).cast("double") / (F.col("n1") + F.col("n2")))
    )
    return (
        grid.join(F.broadcast(n), how="cross")
        .groupBy("n1", "n2")
        .agg(
            d.cast("bigint").alias("d_num"),
            F.round(d.cast("double") / (F.col("n1") * F.col("n2")), 6).alias("d_stat"),
            F.round(lam, 6).alias("ks_lambda"),
            (lam > 1.358).alias("reject_005"),
        )
    )


@query(
    "q259_mann_whitney_u",
    oracle=f"""
    WITH g AS (
      SELECT value,
             sum(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS cnt1,
             sum(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS cnt2
      FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
      GROUP BY value
    ),
    c AS (
      SELECT cnt1, cnt1 + cnt2 AS cnt,
             coalesce(sum(cnt1 + cnt2) OVER (
               ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS c_before
      FROM g
    ),
    n AS (SELECT sum(cnt1) AS n1, sum(cnt2) AS n2 FROM g),
    s AS (
      SELECT sum(cnt1 * (2 * c_before + cnt + 1))::BIGINT AS two_r1,
             sum(cnt * cnt * cnt - cnt)::BIGINT AS tie_term
      FROM c
    )
    SELECT n1::BIGINT AS n1, n2::BIGINT AS n2, two_r1, tie_term,
           round((two_r1 - n1 * (n1 + 1))::DOUBLE / 2, 1) AS u1,
           round(((two_r1 - n1 * (n1 + 1))::DOUBLE / 2 - (n1 * n2)::DOUBLE / 2)
                 / sqrt((n1 * n2)::DOUBLE / 12
                        * ((n1 + n2 + 1) - tie_term::DOUBLE
                           / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z_score
    FROM s, n
    """,
    tags=("stats", "hypothesis-test", "rank-sum"),
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test on the same two samples as q258, with
    the tie-corrected normal approximation. Average ranks over ties never
    materialize as fractions: with c_before the EXCLUSIVE pooled
    cumulative and cnt the tie-group size, each group contributes
    cnt1·(2·c_before + cnt + 1) to 2·R1 — an integer identity — and the
    tie correction Σ(t³−t) is integer too. U, its mean, and the
    tie-corrected variance combine in one final projection whose IEEE
    op sequence is written identically in both engines. Same two-level
    cumsum front end as q258 (shared, computed once per engine run)."""
    grid = _value_grid_cumulative(spark, sf_dir)
    # exclusive pooled cumulative = inclusive − own count
    c = grid.select(
        "cnt1",
        (F.col("cnt1") + F.col("cnt2")).alias("cnt"),
        (F.col("c1") + F.col("c2") - F.col("cnt1") - F.col("cnt2")).alias("c_before"),
    )
    s = c.agg(
        F.sum(F.col("cnt1") * (2 * F.col("c_before") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("two_r1"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_term"),
    )
    n = grid.agg(
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum("cnt2").cast("bigint").alias("n2"),
    )
    u1 = (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
    mu = (F.col("n1") * F.col("n2")).cast("double") / 2
    var = (F.col("n1") * F.col("n2")).cast("double") / 12 * (
        (F.col("n1") + F.col("n2") + 1)
        - F.col("tie_term").cast("double")
        / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2") - 1))
    )
    return (
        s.join(F.broadcast(n), how="cross")
        .select(
            "n1",
            "n2",
            "two_r1",
            "tie_term",
            F.round(u1, 1).alias("u1"),
            F.round((u1 - mu) / F.sqrt(var), 6).alias("z_score"),
        )
    )


_BOOT_U = 1_000_000

# one string hash per DOCUMENT (not per replicate): replicate b derives its
# uniform via the minhash-style arithmetic permutation of that hash — the
# same universal-hash family porthash's minhash_perm_expr uses. 64× fewer
# character folds than hashing 'boot-<b>-<doc>' per fan-out row, identical
# determinism (pure int64 arithmetic both engines).
_DUCK_BOOT_H = tok_hash_expr("'boot-' || d.doc_id::VARCHAR", dialect="duckdb")
_SPARK_BOOT_H = tok_hash_expr(
    "'boot-' || CAST(doc_id AS STRING)", dialect="spark"
)


def _boot_u(h: str, b: str) -> str:
    """Uniform in [0,1) for replicate `b` from per-doc hash `h` — identical
    text both dialects (pure arithmetic, mod 1e9+7 then scaled)."""
    return (
        f"(((({h}) * (17 + 2 * ({b})) + ({b}) * 2654435761) % 1000000007)"
        f" % {_BOOT_U}) / CAST({_BOOT_U} AS DOUBLE)"
    )


@query(
    "q260_poisson_bootstrap_ci",
    oracle=f"""
    WITH hashed AS (
      SELECT d.n_chars, {_DUCK_BOOT_H} AS h FROM documents d
    ),
    fan AS (
      SELECT n_chars, b.b,
             {_pois_case(_boot_u("h", "b.b"))} AS w
      FROM hashed, (SELECT unnest(range(1, {_N_BOOT} + 1)) AS b) b
    ),
    reps AS (
      SELECT b, sum(w)::BIGINT AS sw, sum(w * n_chars)::BIGINT AS swv
      FROM fan GROUP BY b
    ),
    means AS (
      SELECT b, swv::DOUBLE / sw AS mean_b,
             row_number() OVER (ORDER BY swv::DOUBLE / sw, b) AS rn
      FROM reps WHERE sw > 0
    ),
    full_mean AS (
      SELECT count(*)::BIGINT AS n_docs,
             round(sum(n_chars)::DOUBLE / count(*), 6) AS mean_chars
      FROM documents
    )
    SELECT n_docs, mean_chars,
           round(min(CASE WHEN rn = 2 THEN mean_b END), 6) AS boot_lo,
           round(min(CASE WHEN rn = {_N_BOOT} - 1 THEN mean_b END), 6) AS boot_hi,
           {_N_BOOT}::BIGINT AS n_replicates
    FROM means, full_mean
    GROUP BY n_docs, mean_chars
    """,
    tags=("stats", "bootstrap", "resampling"),
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean document length —
    the bootstrap that works on distributed data (Chamandy et al.,
    'Estimating Uncertainty for Massive Data Streams'): instead of
    resampling n rows with replacement (which needs global coordination),
    each row independently receives a Poisson(1) replicate weight, here
    drawn via the portable hash so both engines see identical integer
    weights. B=64 replicates fan out map-side (explode over the replicate
    range — no shuffle before the partial agg) and reduce to B weighted
    sums, kept integer (n_chars is integral). The CI is order-statistics
    of the replicate means (ranks 2 and B−1 ≈ 2.3%/97.7%), deterministic
    with the (mean, b) tie-break. At 100 TB: ×64 map-side fan-out into a
    64-group hash-agg — no state beyond 64 partial rows per task."""
    d = table(spark, sf_dir, "documents")
    fan = (
        d.select("doc_id", "n_chars")
        .withColumn("h", F.expr(_SPARK_BOOT_H))
        .withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_N_BOOT))))
        .withColumn("w", F.expr(_pois_case(_boot_u("h", "b"))))
    )
    reps = fan.groupBy("b").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.col("w") * F.col("n_chars")).cast("bigint").alias("swv"),
    )
    means = (
        reps.filter(F.col("sw") > 0)
        .withColumn("mean_b", F.col("swv").cast("double") / F.col("sw"))
        .withColumn("rn", F.row_number().over(W.orderBy("mean_b", "b")))
    )
    full = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_chars"
        ),
    )
    return (
        means.join(F.broadcast(full), how="cross")
        .groupBy("n_docs", "mean_chars")
        .agg(
            F.round(F.min(F.when(F.col("rn") == 2, F.col("mean_b"))), 6).alias(
                "boot_lo"
            ),
            F.round(
                F.min(F.when(F.col("rn") == _N_BOOT - 1, F.col("mean_b"))), 6
            ).alias("boot_hi"),
            F.lit(_N_BOOT).cast("bigint").alias("n_replicates"),
        )
    )


@query(
    "q261_ab_test_analysis",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id,
             ({tok_hash_expr(chr(39) + 'ab-' + chr(39) + " || user_id::VARCHAR", dialect="duckdb")}) % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' AND value >= {_AB_CONV_MIN}
                      THEN 1 ELSE 0 END) AS converted
      FROM events
      GROUP BY 1, 2
    ),
    arms AS (
      SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)::BIGINT AS conv_a,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
             sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)::BIGINT AS conv_b
      FROM assigned
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a::DOUBLE / n_a, 6) AS cvr_a,
           round(conv_b::DOUBLE / n_b, 6) AS cvr_b,
           round((conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
                 / sqrt((conv_a + conv_b)::DOUBLE / (n_a + n_b)
                        * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM arms
    """,
    tags=("stats", "experiment", "ab-test"),
)
def ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with DETERMINISTIC hash assignment: each
    user lands in arm hash(user)%2 — the industry-standard stateless
    bucketing that needs no assignment table and assigns consistently
    across every pipeline that computes it (the same portable hash both
    engines). Conversion = any purchase ≥ $150. The two-proportion pooled
    z-test runs on the 1-row arm summary; complements q249's Wilson
    intervals (per-arm uncertainty) with the between-arm test. At 100 TB:
    one per-user agg (shuffle on user_id, map-side combined), then a
    single-row rollup — assignment itself is free (map-side hash)."""
    ev = table(spark, sf_dir, "events")
    arm_expr = (
        f"({tok_hash_expr(chr(39) + 'ab-' + chr(39) + ' || CAST(user_id AS STRING)', dialect='spark')}) % 2"
    )
    assigned = (
        ev.withColumn("arm", F.expr(arm_expr))
        .groupBy("user_id", "arm")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= _AB_CONV_MIN),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    arms = assigned.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    cvr_a = F.col("conv_a").cast("double") / F.col("n_a")
    cvr_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (cvr_a - cvr_b) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(cvr_a, 6).alias("cvr_a"),
        F.round(cvr_b, 6).alias("cvr_b"),
        F.round(z, 6).alias("z_score"),
    )


# SPRT (Wald sequential probability ratio test) constants, micro-scaled:
# H0: p = 0.30 vs H1: p = 0.35 (success = event value above threshold),
# alpha = beta = 0.05. Per-observation LLR increments are CONSTANTS for a
# Bernoulli test, so the cumulative LLR is pure integer algebra:
#   success: ln(p1/p0)·1e6 = 154151      failure: ln(q1/q0)·1e6 = −74108
#   accept H1 at +ln((1−β)/α)·1e6 = 2944439, accept H0 at −2944439.
# Canonical values live in streaming/stateful.py (the streaming twin q339
# shares them; queries import streaming, never the reverse).
from kinesis_customer_sample_spark.streaming.stateful import (  # noqa: E402
    SPRT_F as _SPRT_F,
    SPRT_S as _SPRT_S,
    SPRT_THR as _SPRT_THR,
    SPRT_VALUE_CUT as _SPRT_VALUE_CUT,
)

# Shared by q317 (batch) and q339 (streaming) — ONE oracle text, so the
# stream/batch-equivalence claim can never drift into two definitions.
SPRT_ORACLE = f"""
    WITH obs AS (
      SELECT user_id % 2 AS arm, ts, event_id,
             CASE WHEN value > {_SPRT_VALUE_CUT} THEN {_SPRT_S}
                  ELSE {_SPRT_F} END AS step
      FROM events
    ),
    walk AS (
      SELECT arm, ts, event_id, step,
             sum(step) OVER (PARTITION BY arm ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS llr_mu,
             row_number() OVER (PARTITION BY arm ORDER BY ts, event_id)
               ::BIGINT AS n
      FROM obs
    ),
    hits AS (
      SELECT arm, llr_mu, n,
             row_number() OVER (PARTITION BY arm ORDER BY n) AS rk
      FROM walk
      WHERE llr_mu >= {_SPRT_THR} OR llr_mu <= -{_SPRT_THR}
    ),
    finals AS (
      SELECT arm, llr_mu, n,
             row_number() OVER (PARTITION BY arm ORDER BY n DESC) AS rk
      FROM walk
    )
    SELECT w.arm::BIGINT AS arm,
           coalesce(h.n, w.n)::BIGINT AS n_at_decision,
           coalesce(h.llr_mu, w.llr_mu)::BIGINT AS llr_mu,
           CASE WHEN h.llr_mu >= {_SPRT_THR} THEN 'accept_h1'
                WHEN h.llr_mu <= -{_SPRT_THR} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM (SELECT arm, llr_mu, n FROM finals WHERE rk = 1) w
    LEFT JOIN (SELECT arm, llr_mu, n FROM hits WHERE rk = 1) h USING (arm)
    """


@query(
    "q317_sprt_sequential_test",
    oracle=SPRT_ORACLE,
    tags=("stats", "sequential-test", "sprt", "ab-test"),
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT over the event stream — the sequential complement to
    q261's fixed-horizon A/B analysis: per experiment arm (user_id % 2)
    the cumulative log-likelihood ratio walks +ln(p1/p0) on success /
    +ln(q1/q0) on failure in event order and the experiment STOPS at the
    first boundary crossing (±ln((1−β)/α)). Because Bernoulli LLR
    increments are constants, the walk is an integer cumulative sum in
    micro-units — both engines take bit-identical paths, and the first
    crossing is exact (no FP boundary jitter). Emits per arm: decision,
    sample size at decision, and the LLR there (or the final state if no
    boundary was hit). One window partitioned by arm ordered by
    (ts, event_id) — a single shuffle on the arm key; the two
    'first/last row per arm' reductions reuse that partitioning.

    Scale posture: state per arm is one running integer; at 100 TB the
    same walk runs as a streaming cumulative agg keyed by arm (q213's
    stateful shape) — this batch form is its oracle-checkable twin."""
    ev = table(spark, sf_dir, "events")
    step = F.when(F.col("value") > _SPRT_VALUE_CUT, F.lit(_SPRT_S)).otherwise(
        F.lit(_SPRT_F)
    )
    w = W.partitionBy("arm").orderBy("ts", "event_id")
    walk = (
        ev.select((F.col("user_id") % 2).alias("arm"), "ts", "event_id", step.alias("step"))
        .withColumn(
            "llr_mu",
            F.sum("step").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
        )
        .withColumn("n", F.row_number().over(w).cast("bigint"))
    )
    crossed = F.abs(F.col("llr_mu")) >= _SPRT_THR
    first_hit = (
        walk.filter(crossed)
        .withColumn("rk", F.row_number().over(W.partitionBy("arm").orderBy("n")))
        .filter(F.col("rk") == 1)
        .select("arm", F.col("n").alias("h_n"), F.col("llr_mu").alias("h_llr"))
    )
    final = (
        walk.withColumn(
            "rk", F.row_number().over(W.partitionBy("arm").orderBy(F.col("n").desc()))
        )
        .filter(F.col("rk") == 1)
        .select("arm", "n", "llr_mu")
    )
    return (
        final.join(first_hit, "arm", "left")
        .select(
            F.col("arm").cast("bigint").alias("arm"),
            F.coalesce("h_n", "n").cast("bigint").alias("n_at_decision"),
            F.coalesce("h_llr", "llr_mu").cast("bigint").alias("llr_mu"),
            F.when(F.col("h_llr") >= _SPRT_THR, "accept_h1")
            .when(F.col("h_llr") <= -_SPRT_THR, "accept_h0")
            .otherwise("continue")
            .alias("decision"),
        )
    )


@query(
    "q365_information_gain",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS y,
             l_linestatus AS f_linestatus,
             CAST(year(l_shipdate) AS VARCHAR) AS f_ship_year,
             CAST(floor(l_quantity / 10)::BIGINT AS VARCHAR) AS f_qty_bucket
      FROM lineitem
    ),
    tall AS (
      SELECT 'linestatus' AS feature, f_linestatus AS x, y FROM base
      UNION ALL SELECT 'ship_year', f_ship_year, y FROM base
      UNION ALL SELECT 'qty_bucket', f_qty_bucket, y FROM base
    ),
    cxy AS (SELECT feature, x, y, count(*)::BIGINT AS c FROM tall GROUP BY 1, 2, 3),
    hy AS (
      SELECT floor(ln(sum(cy)) * 1000000)::BIGINT
               - sum(cy * floor(ln(cy) * 1000000)::BIGINT) // sum(cy) AS h_y_mu,
             sum(cy)::BIGINT AS n
      FROM (SELECT y, sum(c) AS cy FROM cxy
            WHERE feature = 'linestatus' GROUP BY y) m
    ),
    per_x AS (
      SELECT feature, x,
             sum(c * floor(ln(c) * 1000000)::BIGINT) AS cxy_lncxy,
             sum(c) * floor(ln(sum(c)) * 1000000)::BIGINT AS cx_lncx
      FROM cxy GROUP BY 1, 2
    ),
    hyx AS (
      SELECT feature,
             (sum(cx_lncx) - sum(cxy_lncxy)) // (SELECT n FROM hy) AS h_yx_mu
      FROM per_x GROUP BY 1
    )
    SELECT feature,
           (SELECT h_y_mu FROM hy)::BIGINT                 AS h_y_mu,
           h_yx_mu::BIGINT                                 AS h_y_given_x_mu,
           ((SELECT h_y_mu FROM hy) - h_yx_mu)::BIGINT     AS info_gain_mu,
           rank() OVER (ORDER BY (SELECT h_y_mu FROM hy) - h_yx_mu DESC, feature)
             ::BIGINT                                      AS ig_rank
    FROM hyx
    """,
    tags=("stats", "feature-selection", "entropy", "information-gain"),
)
def information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature ranking — the decision-tree / feature-
    selection staple IG(X) = H(Y) − H(Y|X) over categorical candidate
    features, computed entirely from integer counts: every entropy term
    is c·⌊10⁶·ln c⌋ (ln applied ONLY to integers, the q151/q346 log
    discipline), summed and divided by N in integer µ-nats, so both
    engines agree bit-for-bit. Target = return flag; candidates =
    line status, ship year, quantity bucket.

    Scale posture (100 TB): one scan explodes each row into the 3
    (feature, x, y) triples map-side (a bounded ×3 fan-out), then ONE
    map-side-combined hash agg to the (feature × x × y) grid — the grid
    is cardinality-sized (tens of rows), everything after is grid
    algebra. No window touches fact rows; the rank runs over 3 rows."""
    base = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("y"),
        F.create_map(
            F.lit("linestatus"), F.col("l_linestatus"),
            F.lit("ship_year"), F.year("l_shipdate").cast("string"),
            F.lit("qty_bucket"),
            F.expr("CAST(CAST(l_quantity AS BIGINT) div 10 AS STRING)"),
        ).alias("feats"),
    )
    tall = base.select("y", F.explode("feats").alias("feature", "x"))
    cxy = materialize(
        tall.groupBy("feature", "x", "y").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    # H(Y) from any one feature's marginal (identical for all three)
    cy = (
        cxy.filter(F.col("feature") == "linestatus")
        .groupBy("y")
        .agg(F.sum("c").alias("cy"))
    )
    hy = F.broadcast(
        cy.agg(
            F.expr(
                "CAST(floor(ln(sum(cy)) * 1000000) AS BIGINT) "
                "- sum(cy * CAST(floor(ln(cy) * 1000000) AS BIGINT)) div sum(cy)"
            ).alias("h_y_mu"),
            F.sum("cy").alias("n"),
        )
    )
    per_x = cxy.groupBy("feature", "x").agg(
        F.expr(
            "sum(c * CAST(floor(ln(c) * 1000000) AS BIGINT))"
        ).alias("cxy_lncxy"),
        F.expr(
            "sum(c) * CAST(floor(ln(sum(c)) * 1000000) AS BIGINT)"
        ).alias("cx_lncx"),
    )
    hyx = (
        per_x.crossJoin(hy)
        .groupBy("feature")
        .agg(
            F.expr("(sum(cx_lncx) - sum(cxy_lncxy)) div min(n)").alias("h_yx_mu"),
            F.min("h_y_mu").alias("h_y_mu"),
        )
    )
    ig = hyx.select(
        "feature",
        F.col("h_y_mu").cast("bigint"),
        F.col("h_yx_mu").cast("bigint").alias("h_y_given_x_mu"),
        (F.col("h_y_mu") - F.col("h_yx_mu")).cast("bigint").alias("info_gain_mu"),
    )
    return ig.withColumn(
        "ig_rank",
        F.rank().over(W.orderBy(F.desc("info_gain_mu"), "feature")).cast("bigint"),
    )


# churn definition for the survival curve: no activity in the final 7 days
_KM_CHURN_GAP_D = 7


@query(
    "q384_kaplan_meier",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    users AS (
      SELECT user_id,
             (epoch_us(max(ts) - min(ts)) // 3600000000)::BIGINT AS dur_d,
             (max(ts) < (SELECT mx FROM anchor) - INTERVAL {_KM_CHURN_GAP_D} DAY)
               AS churned
      FROM events GROUP BY 1
    ),
    grid AS (
      SELECT dur_d,
             count(*) FILTER (churned)::BIGINT      AS d,
             count(*) FILTER (NOT churned)::BIGINT  AS c
      FROM users GROUP BY 1
    ),
    risk AS (
      SELECT dur_d, d, c,
             ((SELECT count(*) FROM users)
              - coalesce(sum(d + c) OVER (ORDER BY dur_d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
               AS n_risk
      FROM grid
    )
    SELECT dur_d, n_risk, d, c,
           sum(CASE WHEN d > 0
                    THEN floor(ln(greatest(n_risk - d, 1)) * 1000000)::BIGINT
                         - floor(ln(n_risk) * 1000000)::BIGINT
                    ELSE 0 END)
             OVER (ORDER BY dur_d ROWS UNBOUNDED PRECEDING)::BIGINT
             AS surv_mu_ln
    FROM risk
    """,
    tags=("stats", "survival", "kaplan-meier", "churn"),
)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve — time-to-churn with right-censoring:
    a user's duration is first→last activity IN HOURS; users active in the
    final {_KM_CHURN_GAP_D} days are CENSORED (they inform the at-risk
    denominator but never count as events — dropping them would bias
    survival down, the classic mistake). The product Π(1 − dᵢ/nᵢ) is
    carried in integer µ-ln units — each factor is ⌊10⁶·ln(n−d)⌋ −
    ⌊10⁶·ln n⌋ on INTEGER counts (the q151 log discipline), summed by a
    cumulative window, so the curve is bit-identical across engines.
    The n=d terminal step clamps to ln 1 (S would be −∞; documented).

    Scale posture (100 TB): one hash agg to the user grain, one to the
    duration grid; at-risk counts and the survival cumsum are windows
    over the GRID (distinct durations — bounded), never user rows."""
    ev = table(spark, sf_dir, "events")
    anchor = F.broadcast(ev.agg(F.max("ts").alias("mx")))
    users = materialize(
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(anchor)
        .select(
            F.expr(
                "(unix_micros(CAST(last_ts AS TIMESTAMP)) "
                "- unix_micros(CAST(first_ts AS TIMESTAMP))) div 3600000000"
            ).cast("bigint").alias("dur_d"),
            (
                F.col("last_ts")
                < F.col("mx") - F.expr(f"INTERVAL {_KM_CHURN_GAP_D} DAYS")
            ).alias("churned"),
        )
    )
    total = F.broadcast(users.agg(F.count(F.lit(1)).alias("n_total")))
    grid = users.groupBy("dur_d").agg(
        F.count(F.when(F.col("churned"), 1)).alias("d"),
        F.count(F.when(~F.col("churned"), 1)).alias("c"),
    )
    wprev = W.orderBy("dur_d").rowsBetween(W.unboundedPreceding, -1)
    risk = (
        grid.crossJoin(total)
        .select(
            "dur_d",
            "d",
            "c",
            (
                F.col("n_total")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
            ).cast("bigint").alias("n_risk"),
        )
    )
    step = F.when(
        F.col("d") > 0,
        F.expr(
            "CAST(floor(ln(greatest(n_risk - d, 1)) * 1000000) AS BIGINT) "
            "- CAST(floor(ln(n_risk) * 1000000) AS BIGINT)"
        ),
    ).otherwise(F.lit(0))
    wcum = W.orderBy("dur_d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return risk.select(
        "dur_d",
        "n_risk",
        "d",
        "c",
        F.sum(step).over(wcum).cast("bigint").alias("surv_mu_ln"),
    )


# q438 (round 7): two-proportion experiment sizing — the power-analysis
# step BEFORE q258's A/B z-test: given pilot-week conversion rates per
# hash-assigned arm, how many users per arm does a properly powered
# experiment need? z constants are shared literals (α=0.05 two-sided,
# power=0.80); rates come from the same deterministic porthash
# assignment as the A/B test itself.
_SS_PILOT_END = "2024-01-08"
_SS_Z_ALPHA = 1.959964  # z_{0.975}
_SS_Z_BETA = 0.841621   # z_{0.80}


@query(
    "q438_experiment_sample_size",
    oracle=f"""
    WITH pilot AS (
      SELECT user_id,
             ({tok_hash_expr(chr(39) + 'ab-' + chr(39) + " || user_id::VARCHAR", dialect="duckdb")}) % 2 AS arm,
             max(CASE WHEN event_type = 'purchase'
                      AND value >= {_AB_CONV_MIN} THEN 1 ELSE 0 END) AS conv
      FROM events
      WHERE ts < TIMESTAMP '{_SS_PILOT_END} 00:00:00'
      GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, count(*)::BIGINT AS n_users, sum(conv)::BIGINT AS n_conv,
             (sum(conv) * 10000 // count(*))::BIGINT AS rate_bp
      FROM pilot GROUP BY 1
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 0 THEN rate_bp END) AS p1_bp,
             max(CASE WHEN arm = 1 THEN rate_bp END) AS p2_bp,
             max(CASE WHEN arm = 0 THEN n_users END) AS n1,
             max(CASE WHEN arm = 1 THEN n_users END) AS n2
      FROM arms
    )
    SELECT p1_bp::BIGINT AS p1_bp, p2_bp::BIGINT AS p2_bp, n1::BIGINT AS n_pilot_a,
           n2::BIGINT AS n_pilot_b,
           abs(p1_bp - p2_bp)::BIGINT AS delta_bp,
           CASE WHEN p1_bp = p2_bp THEN -1 ELSE CAST(ceil(
             ({_SS_Z_ALPHA} + {_SS_Z_BETA}) * ({_SS_Z_ALPHA} + {_SS_Z_BETA})
             * ((p1_bp / 10000.0) * (1 - p1_bp / 10000.0)
                + (p2_bp / 10000.0) * (1 - p2_bp / 10000.0))
             / ((p1_bp / 10000.0 - p2_bp / 10000.0)
                * (p1_bp / 10000.0 - p2_bp / 10000.0))
           ) AS BIGINT) END AS n_per_arm
    FROM wide
    """,
    tags=("stats", "power-analysis", "experiment-sizing"),
)
def experiment_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size calculator: from the pilot week's
    hash-assigned arms (same deterministic assignment as the A/B z-test
    family) take each arm's conversion rate in integer basis points,
    then n per arm = ⌈(z_α/2+z_β)²·(p₁q₁+p₂q₂)/Δ²⌉ at 5% two-sided
    significance and 80% power — the calculation every experimentation
    platform runs before committing traffic. Rates are integer floors;
    the closed form is one double expression over those integers with
    shared literal z constants, identical IEEE sequence both engines.

    Scale posture: one filtered pass → per-user conversion flags
    (map-side hash assignment, no assignment table) → a 2-row arm grid;
    everything after is constant-size algebra."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(_SS_PILOT_END).cast("timestamp")
    )
    pilot = ev.groupBy(
        "user_id",
        F.expr(
            "("
            + tok_hash_expr("'ab-' || CAST(user_id AS STRING)", dialect="spark")
            + ") % 2"
        ).alias("arm"),
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= _AB_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    arms = pilot.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    ).withColumn("rate_bp", F.expr("n_conv * 10000 div n_users").cast("bigint"))
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("rate_bp"))).alias("p1_bp"),
        F.max(F.when(F.col("arm") == 1, F.col("rate_bp"))).alias("p2_bp"),
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n2"),
    )
    zsum = _SS_Z_ALPHA + _SS_Z_BETA
    return wide.select(
        F.col("p1_bp").cast("bigint").alias("p1_bp"),
        F.col("p2_bp").cast("bigint").alias("p2_bp"),
        F.col("n1").cast("bigint").alias("n_pilot_a"),
        F.col("n2").cast("bigint").alias("n_pilot_b"),
        F.abs(F.col("p1_bp") - F.col("p2_bp")).cast("bigint").alias("delta_bp"),
        F.expr(
            # identical pilot rates → undetectable effect; -1 sentinel keeps
            # the tiny-SF fixture (where both arms floor to the same bp)
            # total instead of dividing by zero
            "CASE WHEN p1_bp = p2_bp THEN -1 ELSE "
            f"CAST(ceil(({_SS_Z_ALPHA} + {_SS_Z_BETA}) * ({_SS_Z_ALPHA} + {_SS_Z_BETA})"
            " * ((p1_bp / 10000.0) * (1 - p1_bp / 10000.0)"
            "    + (p2_bp / 10000.0) * (1 - p2_bp / 10000.0))"
            " / ((p1_bp / 10000.0 - p2_bp / 10000.0)"
            "    * (p1_bp / 10000.0 - p2_bp / 10000.0))) AS BIGINT) END"
        ).alias("n_per_arm"),
    )


# ---- q477: McNemar paired-classifier test --------------------------------
# Two deterministic binary raters over documents, truth = (lang = 'en').
# Rater A: the document contains the standalone token "the" (padded
# substring match — identical `contains` semantics both engines).
# Rater B: n_chars >= _MCN_LEN. Realistic discrimination is irrelevant to
# the operator; what matters is that the discordant cells b/c are
# non-degenerate at every SF.
_MCN_LEN = 160
_MCN_CHI2_MILLI_CRIT = 3841  # chi2(1, 0.95) = 3.841459 in milli-units


@query(
    "q477_mcnemar_paired_test",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             (lang = 'en') AS y,
             contains(' ' || text || ' ', ' the ') AS a,
             (n_chars >= {_MCN_LEN}) AS b
      FROM documents
    ),
    cells AS (
      SELECT source,
             count(*)::BIGINT AS n,
             sum(CASE WHEN a = y AND b != y THEN 1 ELSE 0 END)::BIGINT AS b01,
             sum(CASE WHEN a != y AND b = y THEN 1 ELSE 0 END)::BIGINT AS c10,
             sum(CASE WHEN a = y AND b = y THEN 1 ELSE 0 END)::BIGINT AS both_right
      FROM scored GROUP BY source
    )
    SELECT source, n, both_right, b01 AS a_only_right, c10 AS b_only_right,
           CASE WHEN b01 + c10 = 0 THEN -1 ELSE
             (1000 * greatest(abs(b01 - c10) - 1, 0) * greatest(abs(b01 - c10) - 1, 0))
               // (b01 + c10) END AS chi2_milli,
           CASE WHEN b01 + c10 = 0 THEN CAST(0 AS BIGINT) ELSE
             CASE WHEN (1000 * greatest(abs(b01 - c10) - 1, 0)
                        * greatest(abs(b01 - c10) - 1, 0))
                       // (b01 + c10) > {_MCN_CHI2_MILLI_CRIT}
                  THEN 1 ELSE 0 END END AS reject_h0
    FROM cells ORDER BY source
    """,
    tags=("stats", "mcnemar", "paired-test", "model-eval"),
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED classifiers — the correct significance
    test when two models score the SAME examples (a two-proportion z-test
    like q261 would ignore the pairing and waste power): only the
    discordant cells matter, chi2 = (|b-c|-1)^2/(b+c) with continuity
    correction, df=1. Emits the full paired confusion evidence per
    source stratum plus the alpha=0.05 decision; b+c = 0 (no
    disagreement) yields the shared -1 sentinel per the q438 rule.

    Determinism: both raters and the truth are pure codegen predicates;
    every cell is an exact integer count; chi2 is kept in integer
    milli-units via one truncating division (numerator ~1000*(b-c)^2 <=
    1000*n^2 — int64-safe to n ~ 3e6 discordant pairs per stratum;
    strata are sources, bounded) and compared against the shared
    3841-milli critical literal. No float exists anywhere.

    Scale posture (100 TB): one map-side-combined hash-agg from the
    document scan straight to a |sources|-row table; the test itself is
    a projection. Column pruning keeps text/lang/n_chars only."""
    scored = table(spark, sf_dir, "documents").select(
        "source",
        (F.col("lang") == "en").alias("y"),
        F.expr("contains(' ' || text || ' ', ' the ')").alias("a"),
        (F.col("n_chars") >= _MCN_LEN).alias("b"),
    )
    cells = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN a = y AND b != y THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("b01"),
        F.sum(F.expr("CASE WHEN a != y AND b = y THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c10"),
        F.sum(F.expr("CASE WHEN a = y AND b = y THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("both_right"),
    )
    chi2 = (
        "(1000 * greatest(abs(b01 - c10) - 1, 0) * greatest(abs(b01 - c10) - 1, 0))"
        " div (b01 + c10)"
    )
    return cells.select(
        "source",
        "n",
        "both_right",
        F.col("b01").alias("a_only_right"),
        F.col("c10").alias("b_only_right"),
        F.expr(f"CASE WHEN b01 + c10 = 0 THEN -1 ELSE {chi2} END").alias("chi2_milli"),
        F.expr(
            "CASE WHEN b01 + c10 = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"CASE WHEN {chi2} > {_MCN_CHI2_MILLI_CRIT} THEN 1 ELSE 0 END END"
        )
        .cast("bigint")
        .alias("reject_h0"),
    ).orderBy("source")


# ---- q478: Fleiss' kappa multi-rater agreement ---------------------------
# Three deterministic raters assign each document one of three size/density
# categories from DIFFERENT signals; kappa asks how much their agreement
# beats category-marginal chance. The category expressions are shared
# literal text both engines.
_FL_R1 = f"CASE WHEN n_chars < 150 THEN 0 WHEN n_chars < 170 THEN 1 ELSE 2 END"
_FL_R2 = (
    "CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 < 28 THEN 0 "
    "WHEN length(text) - length(replace(text, ' ', '')) + 1 < 34 THEN 1 ELSE 2 END"
)
_FL_R3 = (
    "CASE WHEN length(text) - length(replace(text, 'e', '')) < 40 THEN 0 "
    "WHEN length(text) - length(replace(text, 'e', '')) < 50 THEN 1 ELSE 2 END"
)


@query(
    "q478_fleiss_kappa",
    oracle=f"""
    WITH rated AS (
      SELECT source,
             {_FL_R1} AS r1, {_FL_R2} AS r2, {_FL_R3} AS r3
      FROM documents
    ),
    items AS (
      SELECT source,
             (CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END
              + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS n0,
             (CASE WHEN r1 = 1 THEN 1 ELSE 0 END + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
              + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS n1,
             (CASE WHEN r1 = 2 THEN 1 ELSE 0 END + CASE WHEN r2 = 2 THEN 1 ELSE 0 END
              + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS n2
      FROM rated
    ),
    agg AS (
      SELECT source,
             count(*)::BIGINT AS n_items,
             sum(n0 * n0 + n1 * n1 + n2 * n2)::BIGINT AS s2_sum,
             sum(n0)::BIGINT AS c0, sum(n1)::BIGINT AS c1, sum(n2)::BIGINT AS c2
      FROM items GROUP BY source
    )
    SELECT source, n_items, s2_sum, c0, c1, c2,
           CAST(floor((CAST(s2_sum - 3 * n_items AS DOUBLE) / (6.0 * n_items)
                  - (CAST(c0 AS DOUBLE) * c0 + CAST(c1 AS DOUBLE) * c1
                     + CAST(c2 AS DOUBLE) * c2) / (9.0 * n_items * n_items))
                 / (1.0 - (CAST(c0 AS DOUBLE) * c0 + CAST(c1 AS DOUBLE) * c1
                           + CAST(c2 AS DOUBLE) * c2) / (9.0 * n_items * n_items))
                 * 1e6) AS BIGINT) AS fleiss_kappa_mu
    FROM agg ORDER BY source
    """,
    tags=("stats", "fleiss-kappa", "agreement", "multi-rater"),
)
def fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for n=3 raters x k=3
    categories, the multi-rater generalization of q299's two-rater
    Cohen's kappa (annotation-quality audits run this before trusting a
    labeled corpus). Per item, P_i = (sum_j n_ij^2 - n)/(n(n-1)); kappa =
    (P_bar - P_e)/(1 - P_e) with P_e = sum_j p_j^2 from the category
    marginals. Raters are three independent deterministic size/density
    rules (char count, token count, 'e'-mass) sharing literal CASE text
    with the oracle.

    Determinism: per-item category counts n_ij are exact integers (their
    squares are in {{0,1,4,9}}); the per-source sufficient statistics
    (N, sum n_ij^2, column marginals c_j) are exact int64 hash-agg
    outputs; kappa is ONE shared double expression over those five
    integers, floor-µ-quantized on output (round-on-quotient outputs
    banned per SCALE.md) — the q456 sufficient-statistics discipline. c_j <= 3N keeps every aggregate int64-safe at any scale;
    only the final double expression squares them.

    Scale posture (100 TB): single map-side-combined hash-agg from the
    document scan to a |sources|-row table — the rating CASE ladders are
    pure codegen, no join, no window, no second pass."""
    rated = table(spark, sf_dir, "documents").select(
        "source",
        F.expr(_FL_R1).alias("r1"),
        F.expr(_FL_R2).alias("r2"),
        F.expr(_FL_R3).alias("r3"),
    )
    items = rated.select(
        "source",
        F.expr(
            "(CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END"
            " + CASE WHEN r3 = 0 THEN 1 ELSE 0 END)"
        ).alias("n0"),
        F.expr(
            "(CASE WHEN r1 = 1 THEN 1 ELSE 0 END + CASE WHEN r2 = 1 THEN 1 ELSE 0 END"
            " + CASE WHEN r3 = 1 THEN 1 ELSE 0 END)"
        ).alias("n1"),
        F.expr(
            "(CASE WHEN r1 = 2 THEN 1 ELSE 0 END + CASE WHEN r2 = 2 THEN 1 ELSE 0 END"
            " + CASE WHEN r3 = 2 THEN 1 ELSE 0 END)"
        ).alias("n2"),
    )
    agg = items.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.expr("n0 * n0 + n1 * n1 + n2 * n2")).cast("bigint").alias("s2_sum"),
        F.sum("n0").cast("bigint").alias("c0"),
        F.sum("n1").cast("bigint").alias("c1"),
        F.sum("n2").cast("bigint").alias("c2"),
    )
    return agg.select(
        "source",
        "n_items",
        "s2_sum",
        "c0",
        "c1",
        "c2",
        # floor-µ, not round(x, 6): kappa is a signed float quotient
        # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
        F.expr(
            "CAST(floor(((CAST(s2_sum - 3 * n_items AS DOUBLE) / (6.0 * n_items)"
            " - (CAST(c0 AS DOUBLE) * c0 + CAST(c1 AS DOUBLE) * c1"
            "    + CAST(c2 AS DOUBLE) * c2) / (9.0 * n_items * n_items))"
            " / (1.0 - (CAST(c0 AS DOUBLE) * c0 + CAST(c1 AS DOUBLE) * c1"
            "           + CAST(c2 AS DOUBLE) * c2) / (9.0 * n_items * n_items)))"
            " * 1e6) AS BIGINT)"
        ).alias("fleiss_kappa_mu"),
    ).orderBy("source")


# ---- q487: paired sign-flip permutation test -------------------------------
_PERM_R = 64  # deterministic sign assignments


@query(
    "q487_signflip_permutation_test",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
               AS delta
      FROM events GROUP BY 1
    ),
    obs AS (SELECT abs(sum(delta))::BIGINT AS t_obs, count(*)::BIGINT AS n_days
            FROM daily),
    reps AS (
      SELECT r.r,
             abs(sum(CASE WHEN
                   ({tok_hash_expr("'perm-' || r.r::VARCHAR || '-' || d.di::VARCHAR", dialect="duckdb")}) % 2 = 0
                 THEN d.delta ELSE -d.delta END))::BIGINT AS t_r
      FROM daily d
      CROSS JOIN (SELECT unnest(range(1, {_PERM_R} + 1)) AS r) r
      GROUP BY r.r
    )
    SELECT o.n_days, o.t_obs,
           {_PERM_R}::BIGINT AS n_reps,
           sum(CASE WHEN rp.t_r >= o.t_obs THEN 1 ELSE 0 END)::BIGINT AS n_geq,
           ((1 + sum(CASE WHEN rp.t_r >= o.t_obs THEN 1 ELSE 0 END)) * 1000
             // ({_PERM_R} + 1))::BIGINT AS p_milli
    FROM reps rp CROSS JOIN obs o
    GROUP BY o.n_days, o.t_obs
    """,
    tags=("stats", "permutation-test", "sign-flip", "nonparametric"),
)
def signflip_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test — the exact nonparametric answer
    to 'is the daily purchase-minus-click gap real?': under H0 the
    paired difference is symmetric around 0, so each day's delta keeps
    or flips its sign with equal probability; the p-value is the rank of
    |sum delta| among the sign-flipped replicates, with the standard
    (1 + #{{T_r >= T_obs}})/(R+1) add-one so p is never 0. Completes the
    inference family: q258/q259 compare distributions, q260 bootstraps a
    CI, q317 tests sequentially — this one tests a PAIRED effect with no
    distributional assumption at all.

    Determinism: daily deltas are exact integer counts; each of the 64
    sign assignments comes from the portable polynomial hash of
    (replicate, day-index) — identical integers both engines (the q260
    replicate discipline); replicate statistics and the p-value are pure
    integer arithmetic.

    Scale posture (100 TB): one map-side-combined hash-agg to the day
    grid, then a grid x 64 fan-out (map-side, bounded: |days| x R rows)
    reduced to 64 integer sums — the q260 bootstrap shape. Nothing
    fact-sized is exploded; the fan-out input is the aggregated grid."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01')").alias("di")
        )
        .agg(
            (
                F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
                - F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
            )
            .cast("bigint")
            .alias("delta")
        )
    )
    obs = daily.agg(
        F.abs(F.sum("delta")).cast("bigint").alias("t_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    sign_hash = tok_hash_expr(
        "'perm-' || CAST(r AS STRING) || '-' || CAST(di AS STRING)",
        dialect="spark",
    )
    reps = (
        daily.select("di", "delta", F.explode(F.expr(f"sequence(1, {_PERM_R})")).alias("r"))
        .groupBy("r")
        .agg(
            F.abs(
                F.sum(
                    F.expr(
                        f"CASE WHEN ({sign_hash}) % 2 = 0 THEN delta ELSE -delta END"
                    )
                )
            )
            .cast("bigint")
            .alias("t_r")
        )
    )
    return (
        reps.crossJoin(F.broadcast(obs))
        .groupBy("n_days", "t_obs")
        .agg(
            F.lit(_PERM_R).cast("bigint").alias("n_reps"),
            F.sum(F.expr("CASE WHEN t_r >= t_obs THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_geq"),
            F.expr(
                f"(1 + sum(CASE WHEN t_r >= t_obs THEN 1 ELSE 0 END)) * 1000 div ({_PERM_R} + 1)"
            )
            .cast("bigint")
            .alias("p_milli"),
        )
        .select("n_days", "t_obs", "n_reps", "n_geq", "p_milli")
    )



# ---- q500: Gwet's AC1 agreement (prevalence-robust kappa) -------------------
_AC1_EXPR = (
    # Pa = (S2 - 3N)/(6N); pi_j = c_j/(3N);
    # Pe = (1/(K-1)) * sum pi_j (1 - pi_j), K = 3
    "((CAST(s2_sum - 3 * n_items AS DOUBLE) / (6.0 * n_items))"
    " - 0.5 * ((CAST(c0 AS DOUBLE) / (3.0 * n_items)) * (1.0 - CAST(c0 AS DOUBLE) / (3.0 * n_items))"
    "         + (CAST(c1 AS DOUBLE) / (3.0 * n_items)) * (1.0 - CAST(c1 AS DOUBLE) / (3.0 * n_items))"
    "         + (CAST(c2 AS DOUBLE) / (3.0 * n_items)) * (1.0 - CAST(c2 AS DOUBLE) / (3.0 * n_items))))"
    " / (1.0 - 0.5 * ((CAST(c0 AS DOUBLE) / (3.0 * n_items)) * (1.0 - CAST(c0 AS DOUBLE) / (3.0 * n_items))"
    "               + (CAST(c1 AS DOUBLE) / (3.0 * n_items)) * (1.0 - CAST(c1 AS DOUBLE) / (3.0 * n_items))"
    "               + (CAST(c2 AS DOUBLE) / (3.0 * n_items)) * (1.0 - CAST(c2 AS DOUBLE) / (3.0 * n_items))))"
)


@query(
    "q500_gwet_ac1",
    oracle=f"""
    WITH rated AS (
      SELECT source,
             {_FL_R1} AS r1, {_FL_R2} AS r2, {_FL_R3} AS r3
      FROM documents
    ),
    items AS (
      SELECT source,
             (CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END
              + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS n0,
             (CASE WHEN r1 = 1 THEN 1 ELSE 0 END + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
              + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS n1,
             (CASE WHEN r1 = 2 THEN 1 ELSE 0 END + CASE WHEN r2 = 2 THEN 1 ELSE 0 END
              + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS n2
      FROM rated
    ),
    agg AS (
      SELECT source,
             count(*)::BIGINT AS n_items,
             sum(n0 * n0 + n1 * n1 + n2 * n2)::BIGINT AS s2_sum,
             sum(n0)::BIGINT AS c0, sum(n1)::BIGINT AS c1, sum(n2)::BIGINT AS c2
      FROM items GROUP BY source
    )
    SELECT source, n_items,
           CAST(floor(({_AC1_EXPR}) * 1e6) AS BIGINT) AS gwet_ac1_mu
    FROM agg ORDER BY source
    """,
    tags=("stats", "gwet-ac1", "agreement", "multi-rater"),
)
def gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 — the prevalence-robust agreement coefficient that
    fixes the kappa paradox: when one category dominates, Fleiss' kappa
    (q478) collapses toward zero even for raters who agree on nearly
    every item, because its chance term squares the marginals; AC1's
    chance term pi_j(1-pi_j)/(K-1) instead VANISHES at extreme
    prevalence. Annotation-quality audits report both — a large
    kappa-vs-AC1 gap is itself the prevalence warning. Same raters,
    same per-source sufficient statistics as q478, so the two
    coefficients are directly comparable row for row.

    Determinism: identical integer sufficient statistics to q478 (exact
    int64 hash-agg outputs); AC1 is one shared double expression over
    those five integers, floor-quantized to integer µ in-query.

    Scale posture (100 TB): single map-side-combined hash-agg from the
    document scan to a |sources|-row table — the q477/q478 shape."""
    rated = table(spark, sf_dir, "documents").select(
        "source",
        F.expr(_FL_R1).alias("r1"),
        F.expr(_FL_R2).alias("r2"),
        F.expr(_FL_R3).alias("r3"),
    )
    items = rated.select(
        "source",
        F.expr(
            "(CASE WHEN r1 = 0 THEN 1 ELSE 0 END + CASE WHEN r2 = 0 THEN 1 ELSE 0 END"
            " + CASE WHEN r3 = 0 THEN 1 ELSE 0 END)"
        ).alias("n0"),
        F.expr(
            "(CASE WHEN r1 = 1 THEN 1 ELSE 0 END + CASE WHEN r2 = 1 THEN 1 ELSE 0 END"
            " + CASE WHEN r3 = 1 THEN 1 ELSE 0 END)"
        ).alias("n1"),
        F.expr(
            "(CASE WHEN r1 = 2 THEN 1 ELSE 0 END + CASE WHEN r2 = 2 THEN 1 ELSE 0 END"
            " + CASE WHEN r3 = 2 THEN 1 ELSE 0 END)"
        ).alias("n2"),
    )
    agg = items.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.expr("n0 * n0 + n1 * n1 + n2 * n2")).cast("bigint").alias("s2_sum"),
        F.sum("n0").cast("bigint").alias("c0"),
        F.sum("n1").cast("bigint").alias("c1"),
        F.sum("n2").cast("bigint").alias("c2"),
    )
    return agg.select(
        "source",
        "n_items",
        F.expr(f"CAST(floor(({_AC1_EXPR}) * 1e6) AS BIGINT)").alias("gwet_ac1_mu"),
    ).orderBy("source")
