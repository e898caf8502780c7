"""Fourth wave: warehouse-history, fuzzy-match, graph, vector-compression
and incremental-rollup operators.

Registered LAST (queries/__init__.py ordering contract): new-this-round
queries must not displace proven-green families in a time-capped driver
walk.

- q118: SCD2 history build — run-length-collapse each user's event_type
  timeline into type-2 dimension rows (valid_from/valid_to/is_current);
  the standard warehouse "track attribute changes over time" operator.
- q119: fuzzy self-join via levenshtein — blocked edit-distance matching,
  the record-linkage primitive for near-identical records that exact or
  shingle dedup misses (typos, OCR noise).
- q120: co-purchase graph BFS — min-hop distances from a source part over
  the "appeared in the same order" graph; frontier-join BFS (the Pregel
  shape) oracle-checked against a recursive CTE.
- q121: SQ8 scalar-quantized ANN with exact rerank — the vector-index
  compression path: per-dimension min/max train → uint8 codes → integer
  L2 candidate scan → exact cosine rerank of the shortlist.
- q122: token-pair lift — corpus co-occurrence mining with document-
  frequency banding; the phrase/collocation-discovery operator.
- q123: cascaded rollup — hour → day → month re-aggregation proving the
  partial-agg cascade (incremental/hypertable rollups) is lossless.
- q124: update-mode streaming upsert — multi-micro-batch running
  aggregate emitted in UPDATE mode through a foreachBatch epoch-versioned
  upsert; the final store equals the batch aggregate.
- q125: table reconciliation diff — full-outer fingerprint join
  classifying added/removed/changed/unchanged between table versions.
- q126: time-series gap fill — per-key calendar spine + LOCF forward fill.
- q127: unpivot/melt via stack() — the inverse of q95's pivot.
- q128: IQR outlier fences — integer-cents dyadic percentiles, bit-exact
  Tukey fences, broadcast-back classification.
- q129: compile-time salted skew join — (key, salt) shuffle spreading,
  hash-proven equal to the unsalted join.
- q130: distribution windows — percent_rank/cume_dist/decile in integer
  micro-units.
- q131: weekly cohort retention triangle — all-integer epoch-week keys.
- q132: ordered funnel — sequential min-after stage decomposition.
- q133: equal-frequency binning — broadcast dyadic quantile boundaries +
  map-side CASE assignment (the scale-correct global ntile).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import duck_fixed_sum, fixed_sum
from kinesis_customer_sample_spark.functions.porthash import cosine_expr
from kinesis_customer_sample_spark.queries.graph_quality_ops import _EDGES_SQL
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize


@query(
    "q118_scd2_history",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
      SELECT *, sum(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)::BIGINT AS version_seq
      FROM g
    ),
    runs AS (
      SELECT user_id, version_seq,
             min(event_type)                 AS state,
             count(*)::BIGINT                AS n_events,
             min(epoch_us(ts))::BIGINT       AS valid_from_us,
             max(epoch_us(ts))::BIGINT       AS last_seen_us
      FROM v
      GROUP BY user_id, version_seq
    )
    SELECT user_id, version_seq, state, n_events, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version_seq)  AS valid_to_us,
           CASE WHEN lead(valid_from_us) OVER (PARTITION BY user_id
                                               ORDER BY version_seq) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM runs
    """,
    tags=("window", "scd2", "history", "gaps-and-islands"),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event_type timeline
    into change-runs and emit one dimension row per run with
    [valid_from, valid_to) validity and an is_current flag — the standard
    warehouse operator for tracking attribute changes over time (the batch
    ancestor of the R9 latest-state operator: latest-state is SCD2 keeping
    only is_current=1). Scale posture: both windows and the run-collapse
    aggregate partition by user_id, so the whole build is ONE shuffle on
    the natural key; the second window (lead over runs) reuses the same
    partitioning on far fewer rows. Validity bounds are exact integer
    microseconds (registry parity rules — no rounded-seconds ties)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag("event_type").over(w)
    is_change = F.when(
        prev.isNull() | (prev != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        ev.withColumn("is_change", is_change)
        .withColumn(
            "version_seq",
            F.sum("is_change").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
        )
        .groupBy("user_id", "version_seq")
        .agg(
            F.min("event_type").alias("state"),
            F.count(F.lit(1)).alias("n_events"),
            F.min(us).cast("bigint").alias("valid_from_us"),
            F.max(us).cast("bigint").alias("last_seen_us"),
        )
    )
    w2 = W.partitionBy("user_id").orderBy("version_seq")
    valid_to = F.lead("valid_from_us").over(w2)
    return runs.select(
        "user_id",
        "version_seq",
        "state",
        "n_events",
        "valid_from_us",
        valid_to.alias("valid_to_us"),
        F.when(valid_to.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


_FUZZ_PREFIX = 48  # compare the first 48 normalized chars
_FUZZ_MAX_DIST = 8
_FUZZ_BAND = 32  # docs block together when n_chars lands in the same 32-char band

_DUCK_NORM = "regexp_replace(lower(text), '[^a-z ]', '', 'g')"
_SPARK_NORM = "regexp_replace(lower(text), '[^a-z ]', '')"


@query(
    "q119_fuzzy_join_levenshtein",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, lang, n_chars // {_FUZZ_BAND} AS band,
             substring({_DUCK_NORM}, 1, {_FUZZ_PREFIX}) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           levenshtein(a.pfx, b.pfx)::BIGINT AS edit_dist
    FROM n a JOIN n b
      ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= {_FUZZ_MAX_DIST}
    """,
    tags=("dedup", "fuzzy", "levenshtein", "record-linkage"),
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: doc pairs whose normalized 48-char prefixes
    are within edit distance 8, blocked on (lang, length band) so the
    quadratic levenshtein only runs inside small candidate blocks — the
    typo/OCR-noise matcher that exact-hash (q67) and shingle (q68) dedup
    both miss. Scale posture: the self-join shuffles once on the block
    key; cost is Σ(block²·prefix²), bounded by the band width, never
    corpus² — the same blocked-join discipline as the LSH family. The
    edit distance runs on a fixed 48-char prefix so the per-pair cost is
    constant, not O(doc²). levenshtein is a JVM intrinsic on both engines
    (unit costs, exact integers)."""
    d = table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / _FUZZ_BAND).cast("bigint").alias("band"),
        F.substring(F.expr(_SPARK_NORM), 1, _FUZZ_PREFIX).alias("pfx"),
    )
    a = n.alias("a")
    b = n.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= _FUZZ_MAX_DIST)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            dist.cast("bigint").alias("edit_dist"),
        )
    )


_BFS_MAX_HOPS = 3


@query(
    "q120_copurchase_bfs",
    oracle=f"""
    WITH RECURSIVE und(src, dst) AS ({_EDGES_SQL}),
    bidir AS (
      SELECT src, dst FROM und
      UNION ALL
      SELECT dst AS src, src AS dst FROM und
    ),
    root AS (SELECT min(l_partkey) AS node FROM lineitem),
    walk AS (
      SELECT node, 0 AS dist FROM root
      UNION ALL
      SELECT e.dst AS node, w.dist + 1 AS dist
      FROM walk w JOIN bidir e ON e.src = w.node
      WHERE w.dist < {_BFS_MAX_HOPS}
    )
    SELECT node AS part_key, min(dist)::BIGINT AS hops
    FROM walk
    GROUP BY node
    """,
    tags=("graph", "bfs", "iterative"),
)
def copurchase_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search over the part co-purchase graph (two parts are
    adjacent when they appear in the same order): min-hop distance from
    the smallest part key, capped at 3 hops. The frontier-join loop is
    the Pregel/GraphFrames BFS shape: each round joins the current
    frontier against the edge list, anti-joins out already-visited nodes,
    and materializes to cut lineage — O(diameter) rounds, each a
    shuffle on node id, state = visited set (node, dist), never
    all-paths. The recursive-CTE oracle enumerates every ≤3-hop walk and
    takes min(dist), which equals BFS's first-visit distance — the
    cross-check that the iterative operator implements shortest-hops, not
    reachability order."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    und = _copurchase_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    bidir = materialize(  # reused every round
        und.unionAll(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    # scalar seed, one light job
    root = table(spark, sf_dir, "lineitem").agg(F.min("l_partkey")).collect()[0][0]
    visited = spark.createDataFrame(
        [(int(root), 0)], "part_key bigint, hops int"
    )
    frontier = visited
    for k in range(1, _BFS_MAX_HOPS + 1):
        frontier = materialize(
            frontier.join(bidir, frontier["part_key"] == bidir["src"])
            .select(F.col("dst").alias("part_key"))
            .distinct()
            .join(visited, "part_key", "left_anti")
            .withColumn("hops", F.lit(k))
        )
        if not frontier.take(1):
            break
        visited = visited.unionAll(frontier)
    return visited.select("part_key", F.col("hops").cast("bigint").alias("hops"))


_SQ_QUERY_VEC = 7
_SQ_SHORTLIST = 20
_SQ_TOPK = 10
_SQ_DIM = 64


def _sq_code_expr(emb: str, mn: str, mx: str) -> str:
    """Spark: uint8 scalar quantization code array for a float embedding,
    given broadcast per-dim min/max arrays. All-double arithmetic + floor
    → exact integer codes (identical in DuckDB's long-form CTE)."""
    lo = f"element_at({mn}, d + 1)"
    hi = f"element_at({mx}, d + 1)"
    v = f"CAST(element_at({emb}, d + 1) AS DOUBLE)"
    code = f"CAST(floor(({v} - {lo}) * 255.0 / nullif({hi} - {lo}, 0.0)) AS BIGINT)"
    return (
        f"transform(sequence(0, {_SQ_DIM - 1}), "
        f"d -> coalesce(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), {code})), CAST(0 AS BIGINT)))"
    )


@query(
    "q121_sq8_ann_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    stats AS (
      SELECT d, min(emb[d + 1]) AS mn, max(emb[d + 1]) AS mx
      FROM e, range({_SQ_DIM}) t(d)
      GROUP BY d
    ),
    codes AS (
      SELECT e.vec_id, t.d,
             coalesce(least(255, greatest(0,
               CAST(floor((e.emb[t.d + 1] - s.mn) * 255.0
                          / nullif(s.mx - s.mn, 0.0)) AS BIGINT))), 0) AS code
      FROM e, range({_SQ_DIM}) t(d)
      JOIN stats s ON s.d = t.d
    ),
    adists AS (
      SELECT c.vec_id,
             sum((c.code - q.code) * (c.code - q.code))::BIGINT AS approx_l2
      FROM codes c
      JOIN codes q ON q.d = c.d AND q.vec_id = {_SQ_QUERY_VEC}
      WHERE c.vec_id != {_SQ_QUERY_VEC}
      GROUP BY c.vec_id
    ),
    shortlist AS (
      SELECT vec_id, approx_l2 FROM adists
      ORDER BY approx_l2, vec_id LIMIT {_SQ_SHORTLIST}
    ),
    qv AS (SELECT emb AS qemb FROM e WHERE vec_id = {_SQ_QUERY_VEC})
    SELECT s.vec_id, e.label, s.approx_l2,
           {cosine_expr("e.emb", "qv.qemb", dialect="duckdb")} AS cos_sim
    FROM shortlist s
    JOIN e ON e.vec_id = s.vec_id
    CROSS JOIN qv
    ORDER BY cos_sim DESC, s.vec_id
    LIMIT {_SQ_TOPK}
    """,
    tags=("similarity", "ann", "quantization", "rerank"),
)
def sq8_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact rerank — the vector-index
    compression path every large ANN system ships: train per-dimension
    min/max (one global agg → a 2×64-double broadcast), encode every
    embedding as 64 uint8 codes (4× smaller than float32, 8× smaller than
    the double math), scan candidates by integer L2 distance in code
    space, keep a 20-vector shortlist, then rerank the shortlist with
    exact cosine. Scale posture: training aggregates 64 doubles total
    (map-side partial); encoding + the candidate scan are map-only over a
    broadcast stats row — no shuffle until the 20-row TakeOrdered; the
    exact rerank touches only the shortlist. Code-space distances are
    pure integers, so the shortlist is bit-identical across engines; only
    the rerank does float math (rounded per registry rules)."""
    e = table(spark, sf_dir, "embeddings")
    stats = (
        e.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .agg(
            F.expr("transform(array_sort(collect_list(struct(d, mn))), x -> x.mn)").alias("mn"),
            F.expr("transform(array_sort(collect_list(struct(d, mx))), x -> x.mx)").alias("mx"),
        )
    )
    coded = (
        e.crossJoin(F.broadcast(stats))
        .withColumn("code", F.expr(_sq_code_expr("embedding", "mn", "mx")))
    )
    qrow = F.broadcast(
        coded.filter(F.col("vec_id") == _SQ_QUERY_VEC).select(
            F.col("code").alias("qcode"),
            F.col("embedding").alias("qemb"),
        )
    )
    approx = F.expr(
        "aggregate(zip_with(code, qcode, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    shortlist = (
        coded.filter(F.col("vec_id") != _SQ_QUERY_VEC)
        .crossJoin(qrow)
        .select("vec_id", "label", "embedding", "qemb", approx.alias("approx_l2"))
        .orderBy("approx_l2", "vec_id")
        .limit(_SQ_SHORTLIST)
    )
    return (
        shortlist.select(
            "vec_id",
            "label",
            "approx_l2",
            F.expr(cosine_expr("embedding", "qemb", dialect="spark")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_SQ_TOPK)
    )


_LIFT_TOKS_DUCK = (
    "list_distinct(list_filter(string_split("
    "regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '), t -> t != ''))"
)


@query(
    "q122_token_pair_lift",
    oracle=f"""
    WITH n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    tok AS (
      SELECT doc_id, unnest({_LIFT_TOKS_DUCK}) AS tok FROM documents
    ),
    df AS (SELECT tok, count(*)::BIGINT AS df FROM tok GROUP BY tok),
    keep AS (
      SELECT tok, df FROM df, n
      WHERE df >= greatest(3, n_docs // 100) AND df <= (n_docs * 9) // 10
    ),
    tk AS (SELECT t.doc_id, t.tok, k.df FROM tok t JOIN keep k USING (tok)),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b,
             a.df AS df_a, b.df AS df_b, count(*)::BIGINT AS n_pair
      FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2, 3, 4
    )
    SELECT tok_a, tok_b, n_pair, df_a, df_b,
           (1000000 * n_pair * n_docs) // (df_a * df_b) AS lift_micro
    FROM pairs, n
    WHERE n_pair >= greatest(3, n_docs // 100)
    """,
    tags=("text", "cooccurrence", "lift", "collocation"),
)
def token_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair lift (collocation mining): for token pairs co-occurring
    in ≥1% of documents, lift = P(a,b) / (P(a)·P(b)) — the
    phrase-discovery / topic-coherence primitive, emitted as exact
    integer micro-units (lift·10⁶ by integer division) so no log/float
    enters the hash. Scale posture: document-frequency banding (1%–90%)
    is applied BEFORE the per-doc pair join — stopwords (the quadratic
    hot keys) and hapaxes never reach it, the same DF-cap discipline as
    the shingle-postings join (dedup.py); the pair join shuffles on
    doc_id and the pair agg is map-side partial on a bounded
    (band-filtered) vocabulary."""
    d = table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar twin of the oracle's n CTE; one light job
    lo = max(3, n_docs // 100)
    hi = (n_docs * 9) // 10
    tok = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(filter(split(regexp_replace(lower(text), '[^a-z ]', ''), ' '), t -> t != ''))"
            )
        ).alias("tok"),
    )
    df_t = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    keep = df_t.filter((F.col("df") >= lo) & (F.col("df") <= hi))
    tk = tok.join(F.broadcast(keep), "tok")
    a = tk.alias("a")
    b = tk.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= lo)
    )
    return pairs.select(
        "tok_a",
        "tok_b",
        "n_pair",
        "df_a",
        "df_b",
        F.expr(f"(1000000 * n_pair * CAST({n_docs} AS BIGINT)) div (df_a * df_b)").alias(
            "lift_micro"
        ),
    )


@query(
    "q123_cascaded_rollup",
    oracle="""
    SELECT date_trunc('month', ts)::DATE  AS month,
           event_type,
           count(*)::BIGINT               AS n_events,
           sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))::BIGINT AS value_micro
    FROM events
    GROUP BY 1, 2
    """,
    tags=("aggregation", "rollup", "incremental", "hypertable"),
)
def cascaded_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded time rollup: hour → day → month, each level re-aggregating
    the previous one's partials — the hypertable / materialized-rollup
    pattern (store the hourly table, serve coarser grains by re-rolling
    it, never rescan the raw events). The oracle aggregates the raw
    events straight to month, so the hash match proves the cascade is
    LOSSLESS: counts and integer micro-unit value sums are associative,
    which is exactly why the measures are counts and
    floor(value·10⁶+0.5) fixed-point sums, not double sums or averages
    (averages re-derive as sum/count at read time). Scale posture: the
    raw scan happens once at the finest grain; every re-roll shuffles the
    already-tiny previous level."""
    ev = table(spark, sf_dir, "events")
    v_us = F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(v_us).alias("value_micro"))
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(F.sum("n_events").alias("n_events"), F.sum("value_micro").alias("value_micro"))
    )
    return (
        daily.groupBy(
            F.date_trunc("month", "day").cast("date").alias("month"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_micro").cast("bigint").alias("value_micro"),
        )
    )


@query(
    "q124_stream_update_upsert",
    oracle="""
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))::BIGINT AS value_micro
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "update-mode", "sink", "foreachBatch"),
)
def stream_update_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-mode streaming aggregation through an epoch-versioned upsert
    sink: the events table is re-sharded into 4 files and replayed one
    file per micro-batch, a running per-user aggregate emits ONLY the
    users updated in each batch (update mode — the delta contract BI
    upsert sinks depend on), and foreachBatch appends each delta stamped
    with its epoch. The final store keeps the newest epoch per user,
    which must equal the batch aggregate over all events — the oracle
    hash-checks exactly that. Completes the output-mode matrix (append:
    q51+, complete: run_to_completion default, update: here). Scale
    posture: update mode ships per-batch deltas, not full state (complete
    mode re-emits everything — unusable on an unbounded key space); the
    upsert is newest-epoch-wins, so replays/retries are idempotent."""
    import tempfile

    from pyspark.sql import types as T

    from kinesis_customer_sample_spark.scope import scratch

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    base = scratch("q124")
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    ev.repartition(4).write.parquet(src_dir)
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    v_us = F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint")
    agg = sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum(v_us).alias("value_micro")
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("_epoch", F.lit(epoch_id)).write.mode("append").parquet(out_dir)

    with tempfile.TemporaryDirectory(prefix="ckpt_q124_") as ckpt:
        (
            agg.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    w = W.partitionBy("user_id").orderBy(F.col("_epoch").desc())
    return (
        spark.read.parquet(out_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "value_micro")
    )


_DIFF_DROP = 97   # v2 drops keys ≡ 0 (mod 97)   → "removed"
_DIFF_EDIT = 89   # v2 bumps price on keys ≡ 3 (mod 89) → "changed"
_DIFF_ADD = 93    # v2 clones keys ≡ 5 (mod 93) shifted by 10^9 → "added"
_DIFF_SHIFT = 1_000_000_000


def _order_fingerprint(dialect: str, price: str = "o_totalprice") -> str:
    """Row fingerprint over the comparable order columns (portable
    arithmetic fold, same text in both dialects modulo date diff fn)."""
    from kinesis_customer_sample_spark.functions import MOD_P

    if dialect == "spark":
        days = "datediff(o_orderdate, DATE '1992-01-01')"
    else:
        days = "datediff('day', DATE '1992-01-01', o_orderdate)"
    cents = f"CAST(round(({price}) * 100) AS BIGINT)"
    return (
        f"(((((o_custkey % {MOD_P}) * 31 + {cents}) % {MOD_P}) * 31 "
        f"+ ascii(o_orderstatus)) % {MOD_P} * 31 + {days}) % {MOD_P}"
    )


@query(
    "q125_table_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, {_order_fingerprint("duckdb")} AS fp
      FROM orders
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             {_order_fingerprint("duckdb", price="o_totalprice + CASE WHEN o_orderkey % {edit} = 3 THEN 1.0 ELSE 0.0 END")} AS fp
      FROM orders WHERE o_orderkey % {{drop}} != 0
      UNION ALL
      SELECT o_orderkey + {{shift}} AS k, {_order_fingerprint("duckdb")} AS fp
      FROM orders WHERE o_orderkey % {{add}} = 5
    )
    SELECT CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                WHEN v1.fp != v2.fp THEN 'changed'
                ELSE 'unchanged' END  AS diff_class,
           count(*)::BIGINT           AS n_rows,
           min(coalesce(v1.k, v2.k))  AS min_key,
           max(coalesce(v1.k, v2.k))  AS max_key
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    GROUP BY 1
    """.replace("{edit}", str(_DIFF_EDIT))
       .replace("{drop}", str(_DIFF_DROP))
       .replace("{add}", str(_DIFF_ADD))
       .replace("{shift}", str(_DIFF_SHIFT)),
    tags=("validation", "diff", "reconciliation"),
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation diff: classify every key across two versions
    of the orders table as added / removed / changed / unchanged by
    full-outer-joining on the key and comparing portable row
    fingerprints — the migration/replication audit that tells you WHAT
    diverged when the q116 whole-table checksum says SOMETHING did. The
    second version is derived deterministically (drop keys ≡0 mod 97,
    bump price on ≡3 mod 89, clone-shift ≡5 mod 93), so the oracle
    derives the identical pair. Scale posture: one co-shuffle of both
    sides on the key (sort-merge full outer), fingerprints computed
    map-side BEFORE the join so only (key, int64) pairs shuffle — never
    full rows; the class rollup partial-aggregates to four rows."""
    o = table(spark, sf_dir, "orders")
    v1 = o.selectExpr(
        "o_orderkey AS k", f"{_order_fingerprint('spark')} AS fp"
    )
    edited = f"o_totalprice + CASE WHEN o_orderkey % {_DIFF_EDIT} = 3 THEN 1.0 ELSE 0.0 END"
    v2 = (
        o.filter(F.col("o_orderkey") % _DIFF_DROP != 0)
        .selectExpr("o_orderkey AS k", f"{_order_fingerprint('spark', price=edited)} AS fp")
        .unionAll(
            o.filter(F.col("o_orderkey") % _DIFF_ADD == 5).selectExpr(
                f"o_orderkey + {_DIFF_SHIFT} AS k",
                f"{_order_fingerprint('spark')} AS fp",
            )
        )
    )
    j = v1.alias("v1").join(v2.alias("v2"), F.col("v1.k") == F.col("v2.k"), "full_outer")
    cls = (
        F.when(F.col("v1.k").isNull(), F.lit("added"))
        .when(F.col("v2.k").isNull(), F.lit("removed"))
        .when(F.col("v1.fp") != F.col("v2.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(cls.alias("diff_class"), F.coalesce(F.col("v1.k"), F.col("v2.k")).alias("k"))
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )


@query(
    "q126_gap_fill_locf",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts)::DATE AS day,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS value_micro,
             count(*)::BIGINT AS n_events
      FROM events
      GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM spans
    )
    SELECT s.user_id, s.day,
           coalesce(d.n_events, 0)::BIGINT AS n_events,
           CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END AS is_gap,
           last_value(d.value_micro IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS value_micro_locf
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
    tags=("window", "timeseries", "gap-fill", "locf"),
)
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward: build
    each user's daily calendar spine between their first and last active
    day, left-join the observed daily aggregates, and forward-fill
    missing days from the last observed value — the regularization step
    every downstream window/forecast model needs over sparse event data.
    Scale posture: the spine generates per-user (sequence + explode —
    span-bounded, never a global calendar cross join), the spine⋈daily
    join and the LOCF window share one hashpartitioning(user_id), and
    the fill itself is last(ignorenulls) over an unbounded-preceding
    frame — no self-join, no driver loop. Fixed-point micro-unit values
    keep the fill hash-exact."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint")).alias("value_micro"),
        F.count(F.lit(1)).alias("n_events"),
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    j = spine.alias("s").join(
        daily.alias("d"),
        (F.col("s.user_id") == F.col("d.user_id")) & (F.col("s.day") == F.col("d.day")),
        "left",
    )
    w = W.partitionBy("s.user_id").orderBy("s.day").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        F.col("s.user_id").alias("user_id"),
        F.col("s.day").alias("day"),
        F.coalesce(F.col("d.n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        F.when(F.col("d.user_id").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
        F.last("d.value_micro", ignorenulls=True).over(w).cast("bigint").alias("value_micro_locf"),
    )


_UNPIVOT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "q127_unpivot_measures",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT l_returnflag, '{m}' AS measure,
           count(*)::BIGINT            AS n,
           round(sum(CAST(round({m} * 100) AS BIGINT)) / 100.0, 2) AS total,
           round(min({m}), 2)          AS min_v,
           round(max({m}), 2)          AS max_v
    FROM lineitem GROUP BY l_returnflag"""
        for m in _UNPIVOT_MEASURES
    ),
    tags=("reshape", "unpivot", "melt"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long, the inverse of q95's pivot): melt the four
    lineitem measure columns into (measure, value) rows via `stack`, then
    profile each measure per return flag — the reshape every metrics
    store and melt-style feature pipeline needs. Scale posture: `stack`
    is a map-side Generate (rows ×4, no shuffle of its own, no UDF); the
    per-(flag, measure) agg partial-aggregates to ~12 groups, so the
    whole reshape costs one scan + one tiny shuffle. The oracle is the
    per-measure UNION ALL — proving the melted layout preserves every
    measure exactly."""
    li = table(spark, sf_dir, "lineitem")
    pairs = ", ".join(f"'{m}', {m}" for m in _UNPIVOT_MEASURES)
    melted = li.select(
        "l_returnflag",
        F.expr(f"stack({len(_UNPIVOT_MEASURES)}, {pairs}) AS (measure, value)"),
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        fixed_sum(F.col("value")).alias("total"),
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
    )


@query(
    "q128_iqr_outlier_fences",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    fences AS (
      SELECT o_orderpriority,
             quantile_cont(cents, 0.25) AS p25,
             quantile_cont(cents, 0.75) AS p75
      FROM c GROUP BY o_orderpriority
    )
    SELECT c.o_orderpriority,
           count(*)::BIGINT                                        AS n_orders,
           count(*) FILTER (cents < p25 - 1.5 * (p75 - p25))::BIGINT AS n_low,
           count(*) FILTER (cents > p75 + 1.5 * (p75 - p25))::BIGINT AS n_high,
           round((p25 - 1.5 * (p75 - p25)) / 100.0, 4)             AS fence_lo,
           round((p75 + 1.5 * (p75 - p25)) / 100.0, 4)             AS fence_hi
    FROM c JOIN fences USING (o_orderpriority)
    GROUP BY c.o_orderpriority, p25, p75
    """,
    tags=("aggregation", "outliers", "iqr", "data-quality"),
)
def iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier detection (Tukey fences): per order-priority class,
    count orders outside [p25 − 1.5·IQR, p75 + 1.5·IQR] — the standard
    data-quality screen before training-set admission. Numeric
    discipline: quantiles are computed over exact integer CENTS with
    dyadic fractions (0.25/0.75), so the interpolated percentiles and
    the ×1.5 fence arithmetic are all exact binary floating point —
    bit-identical across engines with no rounding tie to split (the
    boundary comparison `cents < fence` is then deterministic). Scale
    posture: one shuffle on the group key for the percentile agg, the
    5-row fence table broadcasts back, and the outlier count
    partial-aggregates; exact percentile over a group requires the
    group's values co-located — at 100 TB swap in approx_percentile
    (t-digest) for the same plan shape minus the exactness."""
    o = table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    fences = c.groupBy("o_orderpriority").agg(
        F.percentile("cents", 0.25).alias("p25"),
        F.percentile("cents", 0.75).alias("p75"),
    )
    lo = F.col("p25") - 1.5 * (F.col("p75") - F.col("p25"))
    hi = F.col("p75") + 1.5 * (F.col("p75") - F.col("p25"))
    return (
        c.join(F.broadcast(fences), "o_orderpriority")
        .groupBy("o_orderpriority", "p25", "p75")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("cents") < lo, 1)).alias("n_low"),
            F.count(F.when(F.col("cents") > hi, 1)).alias("n_high"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "n_low",
            "n_high",
            F.round(lo / 100.0, 4).alias("fence_lo"),
            F.round(hi / 100.0, 4).alias("fence_hi"),
        )
    )


_N_SALTS = 8


@query(
    "q129_salted_skew_join",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_lines,
           {duck_fixed_sum("l_extendedprice * (1 - l_discount)", scale=4)} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("join", "skew", "salting"),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compile-time salted skew join — the manual half of the skew story
    (q86 salts a hot-key AGGREGATION; test_aqe_splits_skewed_join pins
    the runtime half): the probe side adds salt = row-local hash % 8 and
    the build side replicates each row across all 8 salts, so the join
    key becomes (key, salt) and a hot key's rows spread over 8 shuffle
    partitions instead of one straggler task. The oracle is the plain
    unsalted join — hash-proving salting never changes results. Use when
    AQE can't help: skew hidden behind a stage boundary it won't split,
    or deterministic partition-size SLAs. Cost model: build side ×S rows
    through its shuffle — S trades straggler latency for replication
    I/O; at 100 TB salt only the keys a stats pass flags hot (bounded
    replication), exactly as the DF-cap bounds the postings join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    salted_li = li.withColumn(
        "salt", (F.xxhash64("l_orderkey", "l_linenumber") % _N_SALTS + _N_SALTS) % _N_SALTS
    ).alias("l")
    replicated_o = o.withColumn(
        "salt", F.explode(F.expr(f"sequence(0, {_N_SALTS - 1})"))
    ).alias("r")
    return (
        salted_li.join(
            replicated_o,
            (F.col("l.l_orderkey") == F.col("r.o_orderkey"))
            & (F.col("l.salt") == F.col("r.salt")),
            "inner",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            fixed_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("revenue"),
        )
    )


@query(
    "q130_win_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           -- exact integer micro-units: round(x, 6) lands on .5 ties that
           -- HALF_UP (Spark) and binary-double (DuckDB) split differently
           CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT) AS pct_rank_micro,
           CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT)    AS cume_micro,
           ntile(10) OVER w                 AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window", "distribution", "percent-rank"),
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank / cume_dist / decile
    per nation over account balance: the relative-standing primitives
    (percentile score of each row within its cohort) that q24's ranking
    family doesn't cover. Both are integer ratios ((rank−1)/(n−1),
    rank/n) whose doubles are bit-identical across engines, but
    round(x, 6) lands on exact .5 ties at cohort sizes dividing 10⁶ —
    so they're emitted as floor(x·10⁶ + 0.5) integer micro-units
    (half-up on identical doubles → identical integers, the
    oracle-parity rule from q108). Ordering is made total with the key
    tie-break. Scale posture: one shuffle on the cohort key, each
    cohort ranked independently — never a global sort."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.percent_rank().over(w) * 1_000_000 + 0.5).cast("bigint").alias("pct_rank_micro"),
        F.floor(F.cume_dist().over(w) * 1_000_000 + 0.5).cast("bigint").alias("cume_micro"),
        F.ntile(10).over(w).alias("decile"),
    )


@query(
    "q131_cohort_retention",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS wk
      FROM events
    ),
    cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY user_id),
    sizes AS (SELECT cohort_wk, count(*)::BIGINT AS cohort_size FROM cohorts GROUP BY cohort_wk)
    SELECT c.cohort_wk,
           (a.wk - c.cohort_wk)::BIGINT        AS weeks_since,
           count(DISTINCT a.user_id)::BIGINT   AS n_active,
           s.cohort_size,
           (1000000 * count(DISTINCT a.user_id)) // s.cohort_size AS retention_micro
    FROM activity a
    JOIN cohorts c USING (user_id)
    JOIN sizes s ON s.cohort_wk = c.cohort_wk
    GROUP BY c.cohort_wk, weeks_since, s.cohort_size
    """,
    tags=("analytics", "cohort", "retention"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: bucket users by first-active week, then for
    each (cohort, weeks-since) cell count the distinct users still
    active — the product-analytics triangle every event warehouse
    serves. All arithmetic is integer (epoch-week keys via integer
    division — portable across engines with no week-start/ISO-week
    semantics to disagree on — and integer-division retention
    micro-units), so the matrix hash-matches exactly. Scale posture:
    the distinct-activity reduction shuffles on (user_id, week) FIRST —
    the raw event stream collapses before any join; cohorts derive from
    it with one more user_id agg, the per-cohort sizes broadcast back,
    and the cell rollup partial-aggregates."""
    ev = table(spark, sf_dir, "events")
    wk = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 604800000000")
    activity = ev.select("user_id", wk.alias("wk")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = cohorts.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        activity.join(cohorts, "user_id")
        .join(F.broadcast(sizes), "cohort_wk")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).cast("bigint").alias("weeks_since"),
            "cohort_size",
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            "cohort_wk",
            "weeks_since",
            "n_active",
            "cohort_size",
            F.expr("(1000000 * n_active) div cohort_size").alias("retention_micro"),
        )
    )


_FUNNEL = ("click", "view", "purchase")


@query(
    "q132_funnel_analysis",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = '{_FUNNEL[1]}' AND epoch_us(e.ts) > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = '{_FUNNEL[2]}' AND epoch_us(e.ts) > s2.t2
      GROUP BY e.user_id
    )
    SELECT count(s1.user_id)::BIGINT AS n_stage1,
           count(s2.user_id)::BIGINT AS n_stage2,
           count(s3.user_id)::BIGINT AS n_stage3,
           (1000000 * count(s2.user_id)) // count(s1.user_id) AS conv12_micro,
           (1000000 * count(s3.user_id)) // nullif(count(s2.user_id), 0) AS conv23_micro
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s2.user_id = s3.user_id
    """,
    tags=("analytics", "funnel", "sequence"),
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (click → view → purchase, each stage
    strictly after the previous): per user, stage k's entry time is the
    FIRST qualifying event after stage k−1's entry — the sequential
    min-after decomposition that turns sequence matching into k
    aggregate+join rounds instead of a per-user sort-and-scan UDF.
    Conversion rates are integer micro-units. Scale posture: every
    stage is a filtered agg keyed on user_id, so all three stages and
    the joins reuse one hashpartitioning(user_id) — the event stream is
    scanned per stage with the type filter pushed to the parquet scan,
    and each stage's output is one row per surviving user (monotonically
    shrinking)."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min(us).alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .select("user_id", us.alias("t"))
        .join(s1, "user_id")
        .filter(F.col("t") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL[2])
        .select("user_id", us.alias("t"))
        .join(s2, "user_id")
        .filter(F.col("t") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    j = (
        s1.select(F.col("user_id").alias("u1"))
        .join(s2.select(F.col("user_id").alias("u2")), F.col("u1") == F.col("u2"), "left")
        .join(s3.select(F.col("user_id").alias("u3")), F.col("u2") == F.col("u3"), "left")
    )
    return j.agg(
        F.count("u1").alias("n_stage1"),
        F.count("u2").alias("n_stage2"),
        F.count("u3").alias("n_stage3"),
    ).select(
        "n_stage1",
        "n_stage2",
        "n_stage3",
        F.expr("(1000000 * n_stage2) div n_stage1").alias("conv12_micro"),
        F.expr("(1000000 * n_stage3) div nullif(n_stage2, 0)").alias("conv23_micro"),
    )


_N_BINS = 8  # dyadic quantile fractions k/8 — interpolation stays exact


@query(
    "q133_equal_freq_binning",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT {", ".join(f"quantile_cont(cents, {k}.0/{_N_BINS}) AS q{k}" for k in range(1, _N_BINS))}
      FROM c
    )
    SELECT CASE {" ".join(f"WHEN cents <= q{k} THEN {k - 1}" for k in range(1, _N_BINS))}
                ELSE {_N_BINS - 1} END      AS bin,
           count(*)::BIGINT                 AS n_orders,
           min(cents)                       AS lo_cents,
           max(cents)                       AS hi_cents,
           count(DISTINCT o_orderpriority)::BIGINT AS n_priorities
    FROM c, b
    GROUP BY bin
    """,
    tags=("aggregation", "binning", "quantile", "feature-eng"),
)
def equal_freq_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (octile) binning — the feature-engineering
    discretizer: compute 7 global quantile boundaries ONCE, broadcast
    them, and assign each row's bin with a map-side CASE chain. This is
    the scale-correct alternative to `ntile()` over an unpartitioned
    window (which serializes the table through one task — the q92
    anti-pattern): the boundary agg reduces to 7 numbers, and binning is
    embarrassingly parallel. Numeric discipline: boundaries are
    quantiles of exact integer cents at dyadic fractions k/8, so the
    interpolated values are bit-identical across engines and the
    `cents <= boundary` comparisons can't split (q128's trick
    generalized). At 100 TB swap approx_percentile for the exact
    percentile — same plan, bounded error."""
    o = table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    bounds = c.agg(
        *[
            F.percentile("cents", k / _N_BINS).alias(f"q{k}")
            for k in range(1, _N_BINS)
        ]
    )
    bin_expr = F.when(F.col("cents") <= F.col("q1"), F.lit(0))
    for k in range(2, _N_BINS):
        bin_expr = bin_expr.when(F.col("cents") <= F.col(f"q{k}"), F.lit(k - 1))
    bin_expr = bin_expr.otherwise(F.lit(_N_BINS - 1))
    return (
        c.crossJoin(F.broadcast(bounds))
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


@query(
    "q134_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice / nullif(l_discount, 0.0) * 100 + 0.5) / 100.0
                                                                AS price_per_disc,
           -- bigint overflow past key 1000 → NULL under try_multiply
           CASE WHEN l_orderkey > 1000 THEN NULL
                ELSE l_orderkey * 9223372036854775 END          AS big_product,
           TRY_CAST(l_returnflag AS BIGINT)                     AS flag_as_int,
           -- valid for days 1..29, NULL past Feb's end: mixed-validity.
           -- emitted as VARCHAR: Spark DATE reaches pandas as objects,
           -- DuckDB DATE as datetime64 NaT — a dtype mismatch the hash
           -- comparator rightly rejects (registry parity rules)
           CAST(TRY_CAST('2024-02-' ||
                lpad(CAST(trunc(l_quantity) AS INT)::VARCHAR, 2, '0')
                AS DATE) AS VARCHAR)                            AS maybe_date,
           coalesce(floor(l_extendedprice / nullif(l_quantity, 0.0) * 100 + 0.5) / 100.0,
                    -1.0)                                       AS unit_price
    FROM lineitem
    WHERE l_orderkey % 7 = 0
    """,
    tags=("functions", "null-safety", "try-arithmetic"),
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (`try_multiply` overflow → NULL, `try_cast`
    bad parse → NULL, `try_divide` + `nullif` guarded division): invalid
    operations yield NULL instead of failing the job — the SQL-surface
    twin of the decode edge's error→null contract (R4, guide:36-39),
    and mandatory under ANSI mode (session default) where a single bad
    row would otherwise kill a 100 TB job. Cross-engine notes baked into
    the shape: double division by zero is Infinity (not an error) in
    BOTH engines, so zero-denominators are nulled with `nullif`, and
    the bigint overflow threshold (key > 1000 at this multiplier) is
    stated exactly in the oracle's CASE. Dates are emitted as VARCHAR —
    Spark DATE reaches pandas as objects, DuckDB DATE as datetime64.
    Map-only: no shuffle, fully codegen'd."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                F.try_divide("l_extendedprice", F.nullif("l_discount", F.lit(0.0))) * 100
                + 0.5
            )
            / 100.0
        ).alias("price_per_disc"),
        F.expr("try_multiply(l_orderkey, CAST(9223372036854775 AS BIGINT))").alias(
            "big_product"
        ),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("flag_as_int"),
        F.expr(
            "CAST(try_cast(concat('2024-02-', lpad(CAST(CAST(l_quantity AS INT) AS STRING), 2, '0')) AS DATE) AS STRING)"
        ).alias("maybe_date"),
        F.coalesce(
            F.floor(
                F.try_divide("l_extendedprice", F.nullif("l_quantity", F.lit(0.0))) * 100
                + 0.5
            )
            / 100.0,
            F.lit(-1.0),
        ).alias("unit_price"),
    )


@query(
    "q135_waiting_customers",
    oracle="""
    WITH pos AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer WHERE c_acctbal > 0.0
    ),
    cut AS (SELECT quantile_cont(bal_cents, 0.5) AS med FROM pos)
    SELECT c_nationkey,
           count(*)::BIGINT          AS n_cust,
           sum(bal_cents)::BIGINT    AS total_bal_cents
    FROM pos, cut
    WHERE bal_cents > med
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '2000-01-01')
    GROUP BY c_nationkey
    """,
    tags=("relational", "composite", "anti-join", "scalar-subquery", "tpch-q22"),
)
def waiting_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global scalar subquery threshold + NOT EXISTS:
    above-median-balance customers with no orders since 2000 (churned
    high-value accounts), per nation. The two classic decorrelations in
    one plan: the scalar threshold reduces to ONE number and broadcasts
    into the filter (never a per-row re-scan), and NOT EXISTS lands as
    a left-anti join on the customer key against the date-filtered
    orders projection. The threshold is the MEDIAN of exact integer
    cents (dyadic 0.5 interpolation — bit-identical across engines;
    a float AVERAGE here would put boundary rows one ulp apart, the
    q128 lesson). At 100 TB the anti join is the only shuffle of the
    customer side; orders projects just o_custkey with the date filter
    pushed to its scan."""
    c = table(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0.0).select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    cut = pos.agg(F.percentile("bal_cents", 0.5).alias("med"))
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        pos.crossJoin(F.broadcast(cut))
        .filter(F.col("bal_cents") > F.col("med"))
        .join(o, pos["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
    )


_ROLL_DAYS = 7


@query(
    "q136_rolling_active_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts)::DATE AS day, user_id FROM events
    ),
    spine AS (SELECT DISTINCT day FROM du)
    SELECT s.day,
           count(DISTINCT d.user_id)::BIGINT AS wau,
           count(*)::BIGINT                  AS user_days
    FROM spine s
    JOIN du d ON d.day BETWEEN s.day - INTERVAL {_ROLL_DAYS - 1} DAY AND s.day
    GROUP BY s.day
    """,
    tags=("analytics", "rolling-distinct", "wau", "range-join"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) — the sliding DISTINCT count that
    plain window frames can't express (count(DISTINCT) over a moving
    range isn't supported as a window aggregate): reduce the stream to
    distinct (day, user) pairs FIRST, then range-join the pairs onto the
    day spine and count distincts per window end. Scale posture: the
    dedup reduction is the only pass over raw events (shuffle on
    (day, user), map-side partial); the range join fans each user-day
    into at most 7 spine days — bounded replication, exactly the salted-
    join tradeoff — and the distinct-count agg shuffles user-day×7 rows
    keyed by day. At 100 TB the same shape holds with the spine bucketed
    by month so the range join stays partition-local; swap in HLL
    sketch-merge (approx_count_distinct partials) when exactness can be
    traded for a single pass."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date").alias("day"),
        "user_id",
    ).distinct()
    spine = du.select("day").distinct().select(F.col("day").alias("end_day"))
    joined = spine.join(
        du,
        (F.col("day") >= F.date_sub(F.col("end_day"), _ROLL_DAYS - 1))
        & (F.col("day") <= F.col("end_day")),
    )
    return joined.groupBy(F.col("end_day").alias("day")).agg(
        F.countDistinct("user_id").alias("wau"),
        F.count(F.lit(1)).alias("user_days"),
    )


# PageRank constants: damping 0.85 as integer basis points over micro-unit
# ranks; 3 unrolled power iterations (enough to rank hubs above leaves on
# the fixture graph; the iteration count is a parameter, not a design limit)
_PR_ITERS = 3
_PR_DAMP_BP = 850
_PR_BASE_MU = 150_000  # (1 - d) · 1e6
_PR_INIT_MU = 1_000_000


def _pr_oracle() -> str:
    """Unrolled power-iteration CTE chain mirroring the Spark loop —
    integer micro-unit ranks with truncating division on both engines."""
    cte = f"""
    WITH e0(src, dst) AS ({_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, deg, {_PR_INIT_MU}::BIGINT AS r FROM deg)"""
    prev = "r0"
    for k in range(1, _PR_ITERS + 1):
        cte += """,
    s{k} AS (
      SELECT e.dst, sum(p.r // p.deg)::BIGINT AS sc
      FROM {prev} p JOIN e ON p.node = e.src GROUP BY e.dst
    ),
    r{k} AS (
      SELECT d.node, d.deg,
             ({base} + ({damp} * coalesce(s.sc, 0)) // 1000)::BIGINT AS r
      FROM deg d LEFT JOIN s{k} s ON d.node = s.dst
    )""".format(k=k, prev=prev, base=_PR_BASE_MU, damp=_PR_DAMP_BP)
        prev = f"r{k}"
    return cte + f"""
    SELECT node AS part_key, deg, r AS rank_mu FROM {prev}
    """


@query(
    "q159_pagerank_power_iteration",
    oracle=_pr_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (q120's edge list), 3 unrolled
    power iterations: r' = (1−d) + d·Σ r_u/deg_u, in integer micro-units
    with truncating division so both engines walk identical integer
    sequences — no float mass accounting to drift. Each round is one
    shuffle keyed on node id (contribution sum) plus a broadcast-scale
    left join back to the node table; the edge list is materialized
    once and reused, the Pregel message-passing shape. The undirected
    graph has no dangling nodes by construction (every node has degree
    ≥ 1), so no redistribution term is needed."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    und = _copurchase_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    edges = materialize(
        und.unionAll(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = materialize(deg.select(F.col("src").alias("node"), "deg"))
    ranks = nodes.withColumn("r", F.lit(_PR_INIT_MU).cast("long"))
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                "deg",
                F.expr(
                    f"CAST({_PR_BASE_MU} + ({_PR_DAMP_BP} * coalesce(sc, 0)) div 1000 AS BIGINT)"
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").alias("part_key"), "deg", F.col("r").alias("rank_mu")
    )


@query(
    "q168_recursive_cte_reachability",
    oracle=f"""
    WITH RECURSIVE e0(src, dst) AS ({_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    walk(part_key, hops) AS (
      SELECT CAST((SELECT min(src) FROM e) AS BIGINT), 0
      UNION ALL
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN e ON w.part_key = e.src WHERE w.hops < 2
    )
    SELECT part_key, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY part_key
    """,
    tags=("graph", "recursive-cte", "sql"),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native recursive SQL (Spark 4's WITH RECURSIVE): ≤2-hop
    min-hop reachability over the co-purchase graph, the same semantics
    as q120's first two BFS rounds but expressed as ONE declarative
    query — no driver loop. Two scale caveats, both encoded here:
    (1) Spark re-derives non-materialized CTE subtrees at every recursion
    level, so the edge list is computed once, materialized, and
    registered as a view (the working-relation materialization DuckDB
    does implicitly); (2) a recursive CTE enumerates WALKS (no per-level
    dedup), so depth is bounded tightly — unbounded traversals belong to
    the frontier-dedup BFS operator (q120), which stays linear in nodes
    per round. The two operators cross-check each other's first rounds."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    und = _copurchase_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    edges = materialize(
        und.unionAll(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    edges.createOrReplaceTempView("q168_edges")
    return spark.sql(
        """
        WITH RECURSIVE walk(part_key, hops) AS (
          SELECT CAST((SELECT min(src) FROM q168_edges) AS BIGINT), 0
          UNION ALL
          SELECT e.dst, w.hops + 1
          FROM walk w JOIN q168_edges e ON w.part_key = e.src WHERE w.hops < 2
        )
        SELECT part_key, CAST(min(hops) AS BIGINT) AS hops
        FROM walk GROUP BY part_key
        """
    )


# ---- q515: SCD2 as-of snapshot matrix ------------------------------------------
_AOM_CHECKPOINTS = ("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")


@query(
    "q515_asof_snapshot_matrix",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
      SELECT *, sum(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)::BIGINT AS version_seq
      FROM g
    ),
    runs AS (
      SELECT user_id, version_seq, min(event_type) AS state,
             min(epoch_us(ts))::BIGINT AS valid_from_us
      FROM v GROUP BY user_id, version_seq
    ),
    hist AS (
      SELECT user_id, state, valid_from_us,
             lead(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY version_seq) AS valid_to_us
      FROM runs
    ),
    cks AS (
      SELECT unnest([{", ".join("DATE '" + d + "'" for d in _AOM_CHECKPOINTS)}])
        AS ck
    )
    SELECT c.ck AS as_of, h.state,
           count(*)::BIGINT AS n_users
    FROM hist h JOIN cks c
      ON h.valid_from_us <= epoch_us(CAST(c.ck AS TIMESTAMP))
     AND (h.valid_to_us IS NULL
          OR h.valid_to_us > epoch_us(CAST(c.ck AS TIMESTAMP)))
    GROUP BY c.ck, h.state
    ORDER BY as_of, state
    """,
    tags=("warehouse", "scd2", "as-of", "time-travel"),
)
def asof_snapshot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF snapshot matrix — q118's SCD2 history queried at FOUR
    checkpoints in one pass: how many users were in each state as of
    each date? This is the time-travel report a dimension owner runs
    after every backfill ('did the restatement change history?') and
    the batch analogue of q318's manifest snapshots — there the FILES
    time-travel, here the ROWS do, via [valid_from, valid_to) interval
    semantics. One history build serves all checkpoints; a naive
    implementation re-runs the dimension query per date.

    Determinism: validity bounds are exact integer microseconds (q118's
    build verbatim); checkpoint membership is integer interval algebra;
    counts are exact.

    Scale posture (100 TB): the SCD2 build is q118's one-shuffle shape;
    the checkpoint overlay is a broadcast nested-loop against a 4-row
    literal grid with interval predicates — per-version work is O(|cks|)
    and the result is |cks| x |states| rows."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag("event_type").over(w)
    is_change = F.when(
        prev.isNull() | (prev != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        ev.withColumn("is_change", is_change)
        .withColumn(
            "version_seq",
            F.sum("is_change")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .groupBy("user_id", "version_seq")
        .agg(
            F.min("event_type").alias("state"),
            F.min(us).cast("bigint").alias("valid_from_us"),
        )
    )
    hist = runs.select(
        "user_id",
        "state",
        "valid_from_us",
        F.lead("valid_from_us")
        .over(W.partitionBy("user_id").orderBy("version_seq"))
        .alias("valid_to_us"),
    )
    cks = spark.createDataFrame(
        [(d,) for d in _AOM_CHECKPOINTS], "ck string"
    ).select(F.col("ck").cast("date").alias("ck"))
    ck_us = F.unix_micros(F.col("ck").cast("timestamp"))
    return (
        hist.join(
            F.broadcast(cks),
            (F.col("valid_from_us") <= ck_us)
            & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > ck_us)),
        )
        .groupBy(F.col("ck").alias("as_of"), "state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("as_of", "state")
    )
