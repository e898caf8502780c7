"""Event-sequence pattern matching — round-3 wave (SURVEY.md §2B): the
MATCH_RECOGNIZE-shaped operator a clickstream pipeline needs and q132's
min/max funnel cannot express (a funnel checks *existence and order of
first occurrences*; a sequence pattern constrains the *whole ordered
string* of a user's day — e.g. "views, then clicks, then a purchase, with
no error in between").

Scale posture (100 TB): one shuffle on (user_id, day). Each group reduces
to a compact string of one-char event codes (array_sort of collected
structs → codegen transform/join — bounded by events-per-user-per-day, the
same per-key-bounded-series assumption as q206/q76), then the regex runs
once per group, JVM-side. No window, no join, no Python. For pathological
keys (bots with millions of events/day) the collect is capped upstream by
q185's group-cap sampler; the pattern verdict on a capped prefix is the
standard monitoring trade-off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# one char per event type: click→c, error→e, purchase→p, signup→s, view→v
_PATTERN = "v+c+[^e]*p"  # views, then clicks, then a purchase with no error between


@query(
    "q212_event_sequence_match",
    oracle=f"""
    SELECT user_id,
           ts::DATE                                     AS day,
           count(*)::BIGINT                             AS n_events,
           string_agg(substr(event_type, 1, 1), ''
                      ORDER BY ts, event_id)            AS seq,
           regexp_matches(string_agg(substr(event_type, 1, 1), ''
                      ORDER BY ts, event_id), '{_PATTERN}') AS matched
    FROM events
    GROUP BY 1, 2
    """,
    tags=("sequence", "pattern", "clickstream"),
)
def event_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day): encode the ordered event stream as a one-char-per-
    event string (deterministic (ts, event_id) order) and match the
    conversion pattern `v+c+[^e]*p` — at least one view, then at least one
    click, then a purchase with no error in between. Spark side sorts the
    collected (ts, event_id, code) structs and joins the codes; DuckDB uses
    its ordered string_agg — same string, same regex, exact match."""
    ev = table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("code"))
                )
            ),
            lambda x: x["code"],
        ),
        "",
    )
    return (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            seq.alias("seq"),
        )
        .withColumn("matched", F.col("seq").rlike(_PATTERN))
    )


_FUN_S1, _FUN_S2, _FUN_S3 = "view", "click", "purchase"
_FUN_D12_H = 24  # click deadline: within 24h of first view
_FUN_D23_H = 72  # purchase deadline: within 72h of qualifying click


@query(
    "q312_deadline_funnel",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = '{_FUN_S1}' GROUP BY user_id
    ),
    s2 AS (
      SELECT s1.user_id, s1.t1, min(e.ts) AS t2
      FROM s1 JOIN events e
        ON e.user_id = s1.user_id AND e.event_type = '{_FUN_S2}'
       AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL {_FUN_D12_H} HOUR
      GROUP BY s1.user_id, s1.t1
    ),
    s3 AS (
      SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
      FROM s2 JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = '{_FUN_S3}'
       AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL {_FUN_D23_H} HOUR
      GROUP BY s2.user_id, s2.t1, s2.t2
    ),
    staged AS (
      SELECT s1.user_id,
             CASE WHEN s3.user_id IS NOT NULL THEN 3
                  WHEN s2.user_id IS NOT NULL THEN 2
                  ELSE 1 END AS stage,
             epoch_us(s2.t2) - epoch_us(s2.t1) AS d12_us,
             epoch_us(s3.t3) - epoch_us(s3.t2) AS d23_us
      FROM s1
      LEFT JOIN s2 ON s2.user_id = s1.user_id
      LEFT JOIN s3 ON s3.user_id = s1.user_id
    )
    SELECT stage::BIGINT AS stage,
           count(*)::BIGINT AS n_users,
           round(CAST(sum(d12_us) AS DOUBLE) / 1000000.0
                 / nullif(count(d12_us), 0), 6) AS avg_s1_to_s2_sec,
           round(CAST(sum(d23_us) AS DOUBLE) / 1000000.0
                 / nullif(count(d23_us), 0), 6) AS avg_s2_to_s3_sec
    FROM staged GROUP BY stage
    """,
    tags=("funnel", "deadline", "sequence", "product-analytics"),
)
def deadline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with PER-STEP DEADLINES — the product-analytics
    contract q132's unconstrained ordered funnel cannot express: a click
    counts only within 24h of the user's first view, a purchase only
    within 72h of that qualifying click. Each stage is one user-keyed
    join + min-aggregation against the events table (anchor time from the
    previous stage), so the funnel is a chain of keyed shuffles — no
    windows over whole histories, no per-user state machine. Durations
    flow as exact epoch-microsecond integers; the per-stage averages are
    one division each. Stage counts are disjoint (a user lands in their
    furthest stage), so stages sum to the view-user population."""
    ev = table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == _FUN_S1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        s1.join(ev.filter(F.col("event_type") == _FUN_S2).alias("e"), "user_id")
        .filter(
            (F.col("e.ts") > F.col("t1"))
            & (F.col("e.ts") <= F.col("t1") + F.expr(f"INTERVAL {_FUN_D12_H} HOURS"))
        )
        .groupBy("user_id", "t1")
        .agg(F.min("e.ts").alias("t2"))
    )
    s3 = (
        s2.join(ev.filter(F.col("event_type") == _FUN_S3).alias("e"), "user_id")
        .filter(
            (F.col("e.ts") > F.col("t2"))
            & (F.col("e.ts") <= F.col("t2") + F.expr(f"INTERVAL {_FUN_D23_H} HOURS"))
        )
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("e.ts").alias("t3"))
    )
    staged = (
        s1.select("user_id")
        .join(s2.select("user_id", "t1", "t2"), "user_id", "left")
        .join(
            s3.select("user_id", F.col("t2").alias("t2b"), "t3"),
            "user_id",
            "left",
        )
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("stage"),
            (F.unix_micros(F.col("t2").cast("timestamp")) - F.unix_micros(F.col("t1").cast("timestamp"))).alias("d12_us"),
            (F.unix_micros(F.col("t3").cast("timestamp")) - F.unix_micros(F.col("t2b").cast("timestamp"))).alias("d23_us"),
        )
    )
    return staged.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(
            F.sum("d12_us").cast("double")
            / 1000000.0
            / F.nullif(F.count("d12_us"), F.lit(0)),
            6,
        ).alias("avg_s1_to_s2_sec"),
        F.round(
            F.sum("d23_us").cast("double")
            / 1000000.0
            / F.nullif(F.count("d23_us"), F.lit(0)),
            6,
        ).alias("avg_s2_to_s3_sec"),
    ).select(F.col("stage").cast("bigint").alias("stage"), "n_users", "avg_s1_to_s2_sec", "avg_s2_to_s3_sec")


@query(
    "q373_negation_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS path
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_user_days,
           count(*) FILTER (regexp_matches(path, 'v.*p'))::BIGINT
             AS n_reached,
           count(*) FILTER (regexp_matches(path, 'v[^e]*p'))::BIGINT
             AS n_clean,
           count(*) FILTER (regexp_matches(path, 'v.*p')
                            AND NOT regexp_matches(path, 'v[^e]*p'))::BIGINT
             AS n_error_blocked
    FROM seq GROUP BY 1
    """,
    tags=("sequence", "funnel", "negation", "cep"),
)
def negation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with a NEGATION condition — the CEP pattern `A …(no C)… B`
    that ordinary ordered funnels (q132) cannot state: a user-day
    converts CLEANLY only if some view precedes a purchase with NO error
    between them ('v[^e]*p' over the initial-letter event path), and the
    difference against the unconditioned funnel isolates journeys a
    mid-funnel error blocked. The per-user-day path is built by an
    ordered aggregation and the pattern is one regex — the NFA the CEP
    engine would run, delegated to the regex engine (RE2∩Java-safe
    class).

    Scale posture (100 TB): one shuffle to (user × day) — sessions-sized
    state per group, the same key discipline as q108; path strings are
    bounded by per-day activity; the day rollup reuses the shuffle's
    day component. No window, no join."""
    seq = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
                            )
                        )
                    ),
                    lambda s: s.ch,
                ),
                "",
            ).alias("path")
        )
    )
    reached = F.col("path").rlike("v.*p")
    clean = F.col("path").rlike("v[^e]*p")
    return seq.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.count(F.when(reached, 1)).alias("n_reached"),
        F.count(F.when(clean, 1)).alias("n_clean"),
        F.count(F.when(reached & ~clean, 1)).alias("n_error_blocked"),
    )


# q437 (round 7): Markov next-event prediction accuracy — q181 builds
# the transition matrix; this query EVALUATES it as a predictor with an
# honest temporal train/test split (the backtest discipline of q283
# applied to sequence models).
_MKV_SPLIT = "2024-01-22"  # train < split, test >= split


@query(
    "q437_markov_next_event_accuracy",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    train AS (
      SELECT event_type AS src, nxt AS dst, count(*)::BIGINT AS c
      FROM seq WHERE nxt IS NOT NULL AND ts < TIMESTAMP '{_MKV_SPLIT} 00:00:00'
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT src, dst AS predicted FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS r
        FROM train) WHERE r = 1
    ),
    test AS (
      SELECT event_type AS src, nxt AS actual
      FROM seq WHERE nxt IS NOT NULL AND ts >= TIMESTAMP '{_MKV_SPLIT} 00:00:00'
    ),
    scored AS (
      SELECT t.src, p.predicted,
             count(*)::BIGINT AS n,
             sum(CASE WHEN t.actual = p.predicted THEN 1 ELSE 0 END)::BIGINT
               AS n_correct
      FROM test t JOIN pred p USING (src)
      GROUP BY 1, 2
    )
    SELECT src, predicted, n, n_correct,
           (n_correct * 10000 // n)::BIGINT AS accuracy_bp
    FROM scored
    UNION ALL
    SELECT 'ALL', NULL, sum(n)::BIGINT, sum(n_correct)::BIGINT,
           (sum(n_correct) * 10000 // sum(n))::BIGINT
    FROM scored
    ORDER BY src
    """,
    tags=("sequence", "markov", "backtest", "ml-eval"),
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event predictor backtest: train a first-order
    predictor (per source state, the modal next event with (count, name)
    tie-break) on everything before {split}, score top-1 accuracy on
    everything after — the honest temporal split that q181's in-sample
    transition matrix cannot claim. Per-state accuracy rows plus the
    'ALL' rollup, all in integer basis points.

    Scale posture: sequence pairs come from per-(user, day) partitioned
    lead windows (one pass serves train and test via the split
    predicate); the predictor is a |states|-row grid (argmax by window
    over the transition grid) that BROADCASTS to the test join; accuracy
    is one hash-agg.""".format(split=_MKV_SPLIT)
    from pyspark.sql import Window as W

    seq = table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    wseq = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = materialize(
        seq.withColumn("nxt", F.lead("event_type").over(wseq)).filter(
            F.col("nxt").isNotNull()
        )
    )
    split = F.lit(_MKV_SPLIT).cast("timestamp")
    train = (
        seq.filter(F.col("ts") < split)
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pred = (
        train.withColumn(
            "r", F.row_number().over(W.partitionBy("src").orderBy(F.desc("c"), "dst"))
        )
        .filter(F.col("r") == 1)
        .select("src", F.col("dst").alias("predicted"))
    )
    test = seq.filter(F.col("ts") >= split).select(
        F.col("event_type").alias("src"), F.col("nxt").alias("actual")
    )
    scored = materialize(
        test.join(F.broadcast(pred), "src")
        .groupBy("src", "predicted")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
    )
    per_state = scored.select(
        "src",
        "predicted",
        "n",
        "n_correct",
        F.expr("n_correct * 10000 div n").cast("bigint").alias("accuracy_bp"),
    )
    rollup = scored.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_correct").cast("bigint").alias("n_correct"),
    ).select(
        F.lit("ALL").alias("src"),
        F.lit(None).cast("string").alias("predicted"),
        "n",
        "n_correct",
        F.expr("n_correct * 10000 div n").cast("bigint").alias("accuracy_bp"),
    )
    return per_state.unionByName(rollup).orderBy("src")
