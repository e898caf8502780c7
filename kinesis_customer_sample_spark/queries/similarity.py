"""Similarity-search operators over `embeddings` / `events` (SURVEY.md §2B:
cosine top-k, ANN via random-hyperplane LSH, kNN classification, IVF-style
probe search, time-series similarity).

Scale posture (100 TB): the brute-force scorer (q72) is the correctness
baseline — one broadcast query vector, one scan, no shuffle but the top-k.
The scale paths are bucketed: q73 restricts scoring to the query's LSH
bucket, q75 to the top-probed IVF partitions, q74 blocks on the train/test
split semantics — all shapes where candidate generation is a join on a
bucket key, so cost tracks bucket size, not corpus size. Vector math is
JVM expressions, no Python UDF, no driver-side collect; the hot pair
scorer (q74) unrolls the dot product into codegen arithmetic because
Spark's higher-order lambdas evaluate interpreted (see dot64_expr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import MOD_P, cosine_expr
from kinesis_customer_sample_spark.functions.porthash import (
    dot64_expr,
    norm64_expr,
    norm_expr,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_QUERY_VEC_ID = 0  # the fixed "query vector" for top-k demos


@query(
    "q72_cosine_topk_brute",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           {cosine_expr("e.embedding", "q.qv", dialect="duckdb")} AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != {_QUERY_VEC_ID}
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("similarity", "topk", "cosine"),
)
def cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one query vector — the ANN correctness
    baseline. The query vector is a 1-row broadcast; scoring is a map-only
    scan (Spark's TakeOrderedAndProject handles the top-k without a global
    sort). Ties broken by vec_id for cross-engine determinism."""
    e = table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == _QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    )
    return (
        e.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.expr(cosine_expr("embedding", "qv", dialect="spark")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


_N_PLANES = 8
_PLANE_MUL = 2_654_435_761 % MOD_P


def _hyperplane_bucket(emb: str, *, dialect: str) -> str:
    """Sign-bucket id from 8 deterministic integer hyperplanes: plane p,
    dim d has weight ((p·64+d)·K mod P) mod 17 − 8 ∈ [−8, 8]. Portable
    integer weights → identical bucket ids in both engines.

    The Spark emission is UNROLLED with the weights constant-folded at
    codegen time (the same per-pair-lambda finding as dot64_expr: Spark's
    higher-order lambdas evaluate interpreted — 8 planes × 64 dims = 512
    interpreted ops per row). Addition order (d ascending per plane, then
    planes summed ascending) matches the lambda fold and DuckDB's
    list_sum, so bucket ids are unchanged."""
    if dialect == "spark":
        plane_terms = []
        for p in range(_N_PLANES):
            weights = [
                ((p * 64 + d) * _PLANE_MUL % MOD_P) % 17 - 8 for d in range(64)
            ]
            dot = " + ".join(
                f"{w} * CAST(element_at({emb}, {d + 1}) AS DOUBLE)"
                for d, w in enumerate(weights)
            )
            plane_terms.append(
                f"(CASE WHEN ({dot}) > 0 THEN CAST({1 << p} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        return "CAST(" + " + ".join(plane_terms) + " AS BIGINT)"
    w = f"(((CAST(p * 64 + d AS BIGINT) * {_PLANE_MUL}) % {MOD_P}) % 17 - 8)"
    dot = (
        f"list_sum(list_transform(generate_series(0, 63), "
        f"d -> {w} * {emb}[d + 1]::DOUBLE))"
    )
    # outer ::BIGINT: DuckDB list_sum is HUGEINT → float64 via Arrow,
    # which hash-mismatches Spark's int64 bucket id (same trap as q70)
    return (
        f"list_sum(list_transform(generate_series(0, {_N_PLANES - 1}), "
        f"p -> CASE WHEN {dot} > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT"
    )


@query(
    "q73_ann_lsh_bucketed",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_hyperplane_bucket("embedding", dialect="duckdb")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = {_QUERY_VEC_ID})
    SELECT b.vec_id, b.label, b.bucket,
           {cosine_expr("b.embedding", "q.qv", dialect="duckdb")} AS cos_sim
    FROM b CROSS JOIN q
    WHERE b.bucket = q.qbucket AND b.vec_id != {_QUERY_VEC_ID}
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT 5
    """,
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN, scale path: random-hyperplane LSH (SimHash-for-vectors) buckets
    every embedding into one of 2^8 sign buckets; search only the query's
    bucket. Candidate generation is an equi-join on `bucket` — at 100 TB
    this is the partition key, so a probe touches 1/256th of the corpus
    (multi-probe = also join neighboring buckets). Hyperplanes use portable
    integer weights so bucket ids oracle-match exactly."""
    e = table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(_hyperplane_bucket("embedding", dialect="spark"))
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
            F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
        )
    )
    return (
        e.join(q, e.bucket == q.qbucket)
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            "bucket",
            F.expr(cosine_expr("embedding", "qv", dialect="spark")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
    )


@query(
    "q74_knn_vote",
    oracle=f"""
    WITH test AS (SELECT * FROM embeddings WHERE vec_id % 25 = 0),
    train AS (SELECT * FROM embeddings WHERE vec_id % 25 != 0),
    scored AS (
      SELECT t.vec_id AS query_id, t.label AS true_label, n.label AS cand_label,
             {cosine_expr("t.embedding", "n.embedding", dialect="duckdb")} AS cos_sim,
             row_number() OVER (
               PARTITION BY t.vec_id
               ORDER BY {cosine_expr("t.embedding", "n.embedding", dialect="duckdb")} DESC,
                        n.vec_id) AS rk
      FROM test t CROSS JOIN train n
    ),
    votes AS (
      SELECT query_id, true_label, cand_label, count(*) AS n_votes,
             round(max(cos_sim), 6) AS best_sim
      FROM scored WHERE rk <= 5
      GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label,
           cand_label AS pred_label, n_votes, best_sim,
           cand_label = true_label AS is_correct
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY n_votes DESC, cand_label) AS vrk
          FROM votes)
    WHERE vrk = 1
    """,
    tags=("similarity", "knn", "classify"),
)
def knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-vote classification: 20 held-out queries (vec_id % 25 = 0) score
    against the train split, k=5 neighbors vote, majority label wins (ties
    → smaller label). The test side is tiny → broadcast, so the "cross"
    join is really a broadcast nested loop over one corpus scan — the same
    plan a 1000-executor batch scorer wants."""
    e = table(spark, sf_dir, "embeddings")
    test = F.broadcast(
        e.filter(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("qv"),
            F.expr(norm_expr("embedding")).alias("qn"),
        )
    )
    # one parquet file → one partition: spread the train corpus so the
    # broadcast-nested-loop scorer uses every core (measured 4.5× at sf0.1);
    # norms precomputed per row, per-pair work is the unrolled codegen dot
    train = (
        e.filter(F.col("vec_id") % 25 != 0)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("en", F.expr(norm_expr("embedding")))
    )
    cos = F.round(F.expr(dot64_expr("qv", "embedding")) / (F.col("qn") * F.col("en")), 6)
    scored = test.crossJoin(train).select(
        "query_id",
        "true_label",
        F.col("label").alias("cand_label"),
        F.col("vec_id"),
        cos.alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    votes = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .groupBy("query_id", "true_label", "cand_label")
        .agg(F.count(F.lit(1)).alias("n_votes"), F.round(F.max("cos_sim"), 6).alias("best_sim"))
    )
    vw = W.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "cand_label")
    return (
        votes.withColumn("vrk", F.row_number().over(vw))
        .filter(F.col("vrk") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("cand_label").alias("pred_label"),
            "n_votes",
            "best_sim",
            (F.col("cand_label") == F.col("true_label")).alias("is_correct"),
        )
    )


@query(
    "q75_ivf_probe_search",
    oracle=f"""
    WITH pos AS (SELECT unnest(generate_series(1, 64)) AS i),
    centroid AS (
      SELECT label, i, round(avg(embedding[i]::DOUBLE), 6) AS c
      FROM embeddings CROSS JOIN pos
      GROUP BY label, i
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
    qc AS (
      SELECT q.query_id, centroid.label,
             round(sum(qv[i]::DOUBLE * c)
                   / (sqrt(sum(qv[i]::DOUBLE * qv[i]::DOUBLE)) * sqrt(sum(c * c))), 6) AS ccos
      FROM q JOIN centroid ON true
      WHERE qv[i] IS NOT NULL
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT query_id, label, ccos,
             row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, label) AS prk
      FROM qc
    ),
    cand AS (
      SELECT p.query_id, e.vec_id, e.label,
             {cosine_expr("qq.qv", "e.embedding", dialect="duckdb")} AS cos_sim
      FROM probes p
      JOIN q qq ON qq.query_id = p.query_id
      JOIN embeddings e ON e.label = p.label AND e.vec_id != p.query_id
      WHERE p.prk <= 2
    )
    SELECT query_id, vec_id, label, cos_sim, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, vec_id) AS rk
          FROM cand)
    WHERE rk <= 3
    """,
    tags=("similarity", "ann", "ivf"),
)
def ivf_probe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label mean centroid (the label
    stands in for a k-means partition id); each query probes its top-2
    centroids and scores only those partitions — the inverted-file pattern
    where search cost is (n_probes/n_lists) of the corpus. Centroids are
    computed positionally (explode by dimension → avg → rounded), so the
    whole pipeline stays in SQL expressions and oracle-matches."""
    e = table(spark, sf_dir, "embeddings")
    pos = F.explode(F.sequence(F.lit(1), F.lit(64))).alias("i")
    centroid = (
        e.select("label", pos, "embedding")
        .select("label", "i", F.element_at("embedding", F.col("i")).cast("double").alias("v"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("v"), 6).alias("c"))
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qpos = q.select(
        "query_id", "qv", pos
    ).select("query_id", "qv", "i", F.element_at("qv", F.col("i")).cast("double").alias("qvi"))
    qc = (
        qpos.join(F.broadcast(centroid), "i")
        .groupBy("query_id", "label")
        .agg(
            F.round(
                F.sum(F.col("qvi") * F.col("c"))
                / (
                    F.sqrt(F.sum(F.col("qvi") * F.col("qvi")))
                    * F.sqrt(F.sum(F.col("c") * F.col("c")))
                ),
                6,
            ).alias("ccos")
        )
    )
    pw = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), "label")
    probes = qc.withColumn("prk", F.row_number().over(pw)).filter(F.col("prk") <= 2)
    cand = (
        probes.join(q, "query_id")
        .join(e, "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.expr(cosine_expr("qv", "embedding", dialect="spark")).alias("cos_sim"),
        )
    )
    rw = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        cand.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= 3)
        .select("query_id", "vec_id", "label", "cos_sim", "rk")
    )


@query(
    "q76_timeseries_similarity",
    oracle="""
    WITH feat AS (
      SELECT user_id,
             round(count(*)::DOUBLE, 4)   AS f1,
             round(avg(value), 4)         AS f2,
             round(stddev_samp(value), 4) AS f3,
             round(min(value), 4)         AS f4,
             round(max(value), 4)         AS f5
      FROM events GROUP BY user_id
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           round((a.f1*b.f1 + a.f2*b.f2 + a.f3*b.f3 + a.f4*b.f4 + a.f5*b.f5)
                 / (sqrt(a.f1*a.f1 + a.f2*a.f2 + a.f3*a.f3 + a.f4*a.f4 + a.f5*a.f5)
                  * sqrt(b.f1*b.f1 + b.f2*b.f2 + b.f3*b.f3 + b.f4*b.f4 + b.f5*b.f5)), 6)
             AS cos_sim
    FROM feat a JOIN feat b ON a.user_id < b.user_id
    ORDER BY cos_sim DESC, user_a, user_b
    LIMIT 20
    """,
    tags=("similarity", "timeseries"),
)
def timeseries_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-profile similarity: each user's event-value series
    is summarized to a feature vector (count, mean, stddev, min, max -
    rounded before comparison so cross-engine float aggregation order can't
    drift), then the top-20 most-similar user pairs by cosine. The feature
    agg reduces the series BEFORE the pair join - at 100 TB you never join
    raw series, only fixed-width profiles. The 5-dim dot product is spelled
    as explicit column arithmetic, not array lambdas: fixed small dims stay
    inside whole-stage codegen (measured 10x over the interpreted
    zip_with/aggregate form on ~1M pairs at sf0.1)."""
    ev = table(spark, sf_dir, "events")
    feat = ev.groupBy("user_id").agg(
        F.round(F.count(F.lit(1)).cast("double"), 4).alias("f1"),
        F.round(F.avg("value"), 4).alias("f2"),
        F.round(F.stddev_samp("value"), 4).alias("f3"),
        F.round(F.min("value"), 4).alias("f4"),
        F.round(F.max("value"), 4).alias("f5"),
    )
    # AQE coalesces the tiny profile table to one partition, which would
    # run the pair join single-task; spread the streamed side and broadcast
    # the other (4.4× measured at sf0.1)
    a = feat.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = F.broadcast(feat).alias("b")
    dot = sum(F.col(f"a.f{i}") * F.col(f"b.f{i}") for i in range(1, 6))
    na = F.sqrt(sum(F.col(f"a.f{i}") * F.col(f"a.f{i}") for i in range(1, 6)))
    nb = F.sqrt(sum(F.col(f"b.f{i}") * F.col(f"b.f{i}") for i in range(1, 6)))
    return (
        a.join(b, F.col("a.user_id") < F.col("b.user_id"))
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.round(dot / (na * nb), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "user_a", "user_b")
        .limit(20)
    )


@query(
    "q99_ann_multiprobe_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_hyperplane_bucket("embedding", dialect="duckdb")} AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = {_QUERY_VEC_ID}),
    probes AS (
      SELECT qv, unnest([qbucket] ||
             [xor(qbucket, (1::BIGINT << p)) for p in range(0, {_N_PLANES})]) AS pb
      FROM q
    )
    SELECT b.vec_id, b.label, b.bucket,
           {cosine_expr("b.embedding", "probes.qv", dialect="duckdb")} AS cos_sim
    FROM b JOIN probes ON b.bucket = probes.pb
    WHERE b.vec_id != {_QUERY_VEC_ID}
    ORDER BY cos_sim DESC, b.vec_id
    LIMIT 10
    """,
    tags=("similarity", "ann", "lsh", "multiprobe"),
)
def ann_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: search the query's sign bucket PLUS its 8
    Hamming-1 neighbors (flip one hyperplane bit) — the standard
    recall/cost dial: 9/256 of the corpus instead of 1/256, no extra hash
    tables. The probe list is tiny and broadcast; candidate generation
    stays an equi-join on bucket id."""
    e = table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(_hyperplane_bucket("embedding", dialect="spark"))
    )
    probes = F.broadcast(
        e.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("qv"),
            F.explode(
                F.expr(
                    f"array(bucket) || transform(sequence(0, {_N_PLANES - 1}), "
                    f"p -> bucket ^ shiftleft(CAST(1 AS BIGINT), p))"
                )
            ).alias("pb"),
        )
    )
    return (
        e.join(probes, e.bucket == probes.pb)
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            "bucket",
            F.expr(cosine_expr("embedding", "qv", dialect="spark")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


_KMEANS_K = 4  # seed centroids = embeddings of vec_id 0..3


def _kmeans_d2(dialect: str) -> str:
    from kinesis_customer_sample_spark.functions.porthash import l2sq64_expr

    if dialect == "spark":
        return l2sq64_expr("embedding", "cvec", dialect="spark")
    return l2sq64_expr("e.embedding", "c.cvec", dialect="duckdb")


@query(
    "q149_kmeans_assign_update",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_KMEANS_K}
    ),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, c.cid,
             {_kmeans_d2("duckdb")} AS d2
      FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, label, embedding, cid AS cluster
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
    )
    SELECT cluster,
           count(*)::BIGINT                      AS n_members,
           sum(vec_id)::BIGINT                   AS sum_vec_id,
           count(DISTINCT label)::BIGINT         AS n_labels,
           sum(CAST(floor(embedding[1]::DOUBLE * 1000000 + 0.5) AS BIGINT))::BIGINT
             AS dim1_micro_sum,
           sum(CAST(floor(embedding[2]::DOUBLE * 1000000 + 0.5) AS BIGINT))::BIGINT
             AS dim2_micro_sum
    FROM assigned
    GROUP BY cluster
    """,
    tags=("similarity", "clustering", "kmeans", "codegen"),
)
def kmeans_assign_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus: assign
    every vector to its nearest of K=4 seed centroids (squared-L2 argmin),
    then produce the centroid-update statistics per cluster — member
    count, id checksum, label diversity, and the per-dimension micro-unit
    sums the new centroid mean divides out of (integer sums, so the
    update is exact under ANY summation order — the float-mean trap from
    the registry rules). Cross-engine-exact assignment without an
    epsilon: the 64-term distance is unrolled into the identical IEEE
    double expression on both engines (l2sq64_expr), so d2 is bit-equal
    and the (d2, cid) argmin never flips. Scale posture: K centroids
    broadcast to every vector (map-side scoring in whole-stage codegen,
    no interpreted lambdas), the argmin is a per-vector window over K
    rows, and the update shuffles only (cluster, partial sums) — the
    standard one-round-per-pass distributed k-means; iterations repeat
    the same plan with the updated broadcast."""
    from kinesis_customer_sample_spark.functions.porthash import l2sq64_expr

    e = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    # the oracle's CROSS JOIN + QUALIFY argmin is the semantic spec; the
    # Spark plan inlines it instead — a K-row fan-out + per-vector window
    # would hash-shuffle every 64-dim embedding ×K for the row_number. Here
    # the K centroids collapse to ONE broadcast row of (cid, cvec) structs,
    # each distance is a codegen column, and the argmin is least() + chained
    # when() (first match wins = lowest cid, identical to ORDER BY d2, cid):
    # assignment is fully map-side, and only (cluster, partials) shuffle.
    cents_row = (
        table(spark, sf_dir, "embeddings")  # no repartition: 4-row seed scan
        .filter(F.col("vec_id") < _KMEANS_K)
        .select(F.struct(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")).alias("c"))
        .groupBy()
        .agg(F.sort_array(F.collect_list("c")).alias("cs"))
    )
    proj = e.crossJoin(F.broadcast(cents_row))
    for k in range(_KMEANS_K):
        proj = proj.withColumn(f"cvec{k}", F.element_at("cs", k + 1)["cvec"]).withColumn(
            f"cid{k}", F.element_at("cs", k + 1)["cid"]
        )
        proj = proj.withColumn(
            f"d{k}", F.expr(l2sq64_expr("embedding", f"cvec{k}", dialect="spark"))
        )
    d2min = F.least(*[F.col(f"d{k}") for k in range(_KMEANS_K)])
    cluster = F.when(F.col("d0") == d2min, F.col("cid0"))
    for k in range(1, _KMEANS_K):
        cluster = cluster.when(F.col(f"d{k}") == d2min, F.col(f"cid{k}"))
    assigned = proj.select(
        "vec_id", "label", "embedding", cluster.alias("cluster")
    )
    micro = lambda d: F.floor(  # noqa: E731
        F.element_at("embedding", d).cast("double") * 1000000 + F.lit(0.5)
    ).cast("long")
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("sum_vec_id"),
        F.countDistinct("label").alias("n_labels"),
        F.sum(micro(1)).alias("dim1_micro_sum"),
        F.sum(micro(2)).alias("dim2_micro_sum"),
    )


_GRAM_MILLI = (
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
)


@query(
    "q311_embedding_gramian",
    oracle="""
    WITH v AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vi
      FROM embeddings
    ),
    n AS (SELECT count(*) AS n FROM v),
    cells AS (
      SELECT g1.i AS i, g2.j AS j, sum(vi[g1.i] * vi[g2.j]) AS s
      FROM v
      CROSS JOIN generate_series(1, 64) g1(i)
      CROSS JOIN generate_series(1, 64) g2(j)
      WHERE g2.j >= g1.i
      GROUP BY g1.i, g2.j
    )
    SELECT i::BIGINT AS i, j::BIGINT AS j, s::BIGINT AS s_milli2,
           round(CAST(s AS DOUBLE) / n.n / 1000000.0, 6) AS gram_mean
    FROM cells, n
    """,
    tags=("similarity", "linear-algebra", "gramian", "pca-frontend"),
)
def embedding_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gramian (uncentered covariance) of the embedding
    matrix — the front end of PCA / whitening / spectral methods: XᵀX as
    2080 upper-triangle cells over 64 dims. Each row fans out its i≤j
    coordinate products MAP-SIDE (one generator, no self-join over rows)
    and the cells reduce by (i, j) — the shuffle carries at most
    dims²/2 partial cells per task regardless of row count, which is the
    whole trick: at 100 TB the reduction state is still 2080 numbers.
    Exactness: products of milli-quantized ints are exact int64
    (|x|≤~8·10³ milli → products ≤ 6·10⁷ per row), so the Gramian is
    bit-exact under any shuffle order; the mean-normalized double divides
    two exact integers once. Row-count bound (r4 advice): a per-cell sum
    of ≤6·10⁷-magnitude products stays inside int64 up to ~1.5·10¹¹
    rows; beyond that (extreme even for 100 TB of 64-dim embeddings,
    ~26 TB raw) accumulate per-cell partials as DECIMAL(38,0) or shrink
    the quantization scale. A driver-side power iteration on these 2080
    exact cells (k=64) yields the top eigenvector with no cross-engine
    ambiguity — the iteration itself is bounded driver work, outside
    this query's contract.

    Physical path: mapInArrow computes each partition's PARTIAL Gramian
    as one numpy int64 `X.T @ X` (exact integer matmul, bit-identical to
    the per-row product fan-out it replaced) and emits 2080 cells per
    partition — the shuffle carries 2080 × n_partitions rows instead of
    2080 × n_rows, and the per-row work is a BLAS-shaped batch op rather
    than 2080 codegen'd scalar products (VERDICT r4 task 5: ~10× CPU on
    the old explode path)."""
    import numpy as np
    import pyarrow as pa

    v = table(spark, sf_dir, "embeddings").select(
        F.expr(_GRAM_MILLI).alias("vi")
    )

    _OUT = pa.schema(
        [pa.field("i", pa.int32()), pa.field("j", pa.int32()), pa.field("p", pa.int64())]
    )

    def partial_gram(batches):
        acc = np.zeros((64, 64), dtype=np.int64)
        seen = False
        for batch in batches:
            col = batch.column(0)
            flat = np.asarray(col.flatten(), dtype=np.int64)
            if flat.size == 0:
                continue
            x = flat.reshape(-1, 64)
            acc += x.T @ x  # exact int64 — same bound as the cell sums
            seen = True
        if seen:
            iu, ju = np.triu_indices(64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((iu + 1).astype("int32")),
                    pa.array((ju + 1).astype("int32")),
                    pa.array(acc[iu, ju]),
                ],
                schema=_OUT,
            )

    pairs = v.mapInArrow(partial_gram, "i int, j int, p long")
    n = v.count()  # broadcast scalar
    return (
        pairs.groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            F.col("s").cast("bigint").alias("s_milli2"),
            F.round(F.col("s").cast("double") / n / 1000000.0, 6).alias(
                "gram_mean"
            ),
        )
    )


@query(
    "q321_feature_standardization_audit",
    oracle="""
    WITH v AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS vi
      FROM embeddings
    ),
    ex AS (
      SELECT g.d AS d, vi[g.d] AS x
      FROM v CROSS JOIN generate_series(1, 64) g(d)
    ),
    m AS (
      SELECT d, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             sum(x * x)::BIGINT AS sxx
      FROM ex GROUP BY d
    ),
    o AS (
      SELECT ex.d, count(*)::BIGINT AS n_out
      FROM ex JOIN m USING (d)
      WHERE (ex.x * m.n - m.sx) * (ex.x * m.n - m.sx)
              > 9 * (m.n * m.sxx - m.sx * m.sx)
      GROUP BY ex.d
    )
    SELECT m.d::BIGINT AS dim, m.n AS n,
           (m.sx // m.n)::BIGINT AS mean_milli,
           (m.n * m.sxx - m.sx * m.sx)::BIGINT AS var_num,
           coalesce(o.n_out, 0)::BIGINT AS n_outliers3
    FROM m LEFT JOIN o USING (d)
    """,
    tags=("similarity", "feature-scaling", "standardization", "profiling"),
)
def feature_standardization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature standardization audit — the z-score pass
    every embedding/feature pipeline runs before training (and the
    contract a separate transform step would apply): for each of the 64
    dims, corpus moments (n, Σx, Σx²) over milli-quantized values plus
    the count of |z| > 3 outliers. The outlier test is the ENTIRELY
    integer inequality (x·n − Σx)² > 9·(n·Σx² − (Σx)²) — algebraically
    identical to |x−μ|>3σ but with no division, square root, or float
    anywhere, so both engines agree bit-for-bit (the q311 exactness
    recipe applied to second moments). int64 bounds: |x|≤8·10³ milli →
    n·Σx² and (Σx)² stay under 2⁶³ up to ~10⁸ rows per dim; past that,
    accumulate DECIMAL(38,0) partials (same note as the Gramian).

    Scale posture: moments are one map-side-partial agg over 64 keys
    (shuffle = 64 rows/task); the outlier pass re-scans with the 64-row
    moments table BROADCAST — two scans, zero row-scaled shuffles."""
    v = table(spark, sf_dir, "embeddings").select(F.expr(_GRAM_MILLI).alias("vi"))
    ex = v.select(F.posexplode("vi").alias("d0", "x")).select(
        (F.col("d0") + 1).alias("d"), "x"
    )
    m = ex.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    dev = F.col("x") * F.col("n") - F.col("sx")
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    o = (
        ex.join(F.broadcast(m), "d")
        .filter(dev * dev > 9 * var_num)
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_out"))
    )
    return (
        m.join(o, "d", "left")
        .select(
            F.col("d").cast("bigint").alias("dim"),
            "n",
            F.expr("sx div n").cast("bigint").alias("mean_milli"),
            var_num.cast("bigint").alias("var_num"),
            F.coalesce("n_out", F.lit(0)).cast("bigint").alias("n_outliers3"),
        )
    )


# q423 (round 7): Matryoshka truncated-dimension retrieval agreement —
# the eval that decides whether serving can keep only the first d/2
# dimensions of every embedding (MRL-style nested representations).
_MAT_NQ = 8      # probe queries: vec_id 0..7
_MAT_K = 10      # top-k depth
_MAT_HALF = 32   # truncated prefix width (of 64)


@query(
    "q423_matryoshka_truncation_agreement",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid,
             [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS qv
      FROM embeddings WHERE vec_id < {_MAT_NQ}
    ),
    c AS (
      SELECT vec_id,
             [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS cv
      FROM embeddings WHERE vec_id >= {_MAT_NQ}
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             list_sum([qv[i + 1] * cv[i + 1] FOR i IN range(64)]) AS s_full,
             list_sum([qv[i + 1] * cv[i + 1] FOR i IN range({_MAT_HALF})]) AS s_half
      FROM q CROSS JOIN c
    ),
    topf AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY s_full DESC, vec_id) AS r
        FROM scored) WHERE r <= {_MAT_K}
    ),
    toph AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY s_half DESC, vec_id) AS r
        FROM scored) WHERE r <= {_MAT_K}
    )
    SELECT f.qid,
           count(h.vec_id)::BIGINT AS overlap_at_{_MAT_K},
           (count(h.vec_id) * 10000 // {_MAT_K})::BIGINT AS agreement_bp
    FROM topf f LEFT JOIN toph h ON h.qid = f.qid AND h.vec_id = f.vec_id
    GROUP BY f.qid
    ORDER BY f.qid
    """,
    tags=("similarity", "matryoshka", "ann-eval", "truncation"),
)
def matryoshka_truncation_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation eval: for each probe query, how much of the
    exact full-dimension top-{k} survives when retrieval uses only the
    first {half} of 64 dimensions? (The go/no-go measurement before
    halving vector-serving memory with MRL-nested embeddings.) Both
    rankings come from ONE scoring pass — the prefix dot product is a
    slice of the same zip_with array — with the deterministic
    (score DESC, vec_id) total order; overlap@k is a self-equi-join of
    the two per-query top-k sets.

    Scale posture: queries broadcast (constant {nq} rows), the corpus is
    scanned once, both scores ride the same row, and the per-query
    top-k extraction is a rank-window partitioned BY QUERY (never
    global). The final overlap join touches 2·k·{nq} rows. At 100 TB the
    full-score leg would come from the ANN index (q99/q121); pairing it
    with the truncated leg is unchanged.""".format(
        k=_MAT_K, half=_MAT_HALF, nq=_MAT_NQ
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "v"
        ),
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") < _MAT_NQ).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        )
    )
    c = e.filter(F.col("vec_id") >= _MAT_NQ).select(
        "vec_id", F.col("v").alias("cv")
    )
    scored = materialize(
        c.crossJoin(q).select(
            "qid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qv, cv, (a, b) -> a * b), CAST(0 AS BIGINT),"
                " (a, v) -> a + v)"
            ).alias("s_full"),
            F.expr(
                f"aggregate(zip_with(slice(qv, 1, {_MAT_HALF}), slice(cv, 1, {_MAT_HALF}),"
                " (a, b) -> a * b), CAST(0 AS BIGINT), (a, v) -> a + v)"
            ).alias("s_half"),
        )
    )
    wf = W.partitionBy("qid").orderBy(F.col("s_full").desc(), "vec_id")
    wh = W.partitionBy("qid").orderBy(F.col("s_half").desc(), "vec_id")
    topf = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= _MAT_K)
        .select("qid", "vec_id")
    )
    toph = (
        scored.withColumn("r", F.row_number().over(wh))
        .filter(F.col("r") <= _MAT_K)
        .select("qid", "vec_id")
    )
    return (
        topf.alias("f")
        .join(
            toph.alias("h"),
            (F.col("h.qid") == F.col("f.qid")) & (F.col("h.vec_id") == F.col("f.vec_id")),
            "left",
        )
        .groupBy(F.col("f.qid").alias("qid"))
        .agg(
            F.count(F.col("h.vec_id")).cast("bigint").alias(f"overlap_at_{_MAT_K}"),
            F.expr(f"CAST(count(h.vec_id) * 10000 div {_MAT_K} AS BIGINT)").alias(
                "agreement_bp"
            ),
        )
        .orderBy("qid")
    )


# q436 (round 7): Johnson–Lindenstrauss random-projection distortion
# audit — the measurement that licenses 64-d → 16-d dimensionality
# reduction before ANN/clustering (the JL lemma promises pairwise
# distances survive; this query measures by how much on OUR corpus).
_JL_K = 16       # target dimensionality
_JL_PAIR_GAP = 250  # pair (a, a + gap) — deterministic pair sample
_JL_P0 = 20      # first corpus id (skip centroid/query reserves)
# deterministic ±1 projection signs: parity of a Weyl-style integer mix,
# identical literal arithmetic both engines
_JL_SIGN = "(CASE WHEN ({i} * 2654435761 + {j} * 40503) % 2 = 0 THEN 1 ELSE -1 END)"


@query(
    "q436_jl_projection_distortion",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS q
      FROM embeddings WHERE vec_id >= {_JL_P0}
    ),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             [a.q[i + 1] - b.q[i + 1] FOR i IN range(64)] AS dv
      FROM v a JOIN v b ON b.vec_id = a.vec_id + {_JL_PAIR_GAP}
    ),
    proj AS (
      SELECT a_id, b_id,
             list_sum([dv[i + 1] * dv[i + 1] FOR i IN range(64)]) AS d2_full,
             [list_sum([dv[i + 1]
                        * (CASE WHEN (i * 2654435761 + j * 40503) % 2 = 0
                                THEN 1 ELSE -1 END)
                        FOR i IN range(64)])
              FOR j IN range({_JL_K})] AS y
      FROM pairs
    ),
    ratio AS (
      SELECT a_id, b_id, d2_full,
             list_sum([y[j + 1] * y[j + 1] FOR j IN range({_JL_K})]) AS d2_proj,
             (list_sum([y[j + 1] * y[j + 1] FOR j IN range({_JL_K})]) * 10000
              // ({_JL_K} * d2_full))::BIGINT AS ratio_bp
      FROM proj WHERE d2_full > 0
    )
    SELECT (ratio_bp // 2500)::BIGINT AS band,
           count(*)::BIGINT AS n_pairs,
           min(ratio_bp)::BIGINT AS min_ratio_bp,
           max(ratio_bp)::BIGINT AS max_ratio_bp,
           (sum(ratio_bp) // count(*))::BIGINT AS mean_ratio_bp
    FROM ratio GROUP BY 1 ORDER BY 1
    """,
    tags=("similarity", "johnson-lindenstrauss", "projection", "audit"),
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distortion audit: project every sampled
    pair's DIFFERENCE vector through a deterministic ±1 sign matrix
    (Achlioptas construction — the sign is the parity of an integer
    Weyl mix of (i, j), identical literal arithmetic in both engines,
    no RNG) down to {k} dims, and band the squared-distance ratio
    d²_proj/(k·d²_full) in basis points (10000 = distances perfectly
    preserved in expectation). The histogram of bands IS the empirical
    JL guarantee for this corpus — the go/no-go before serving reduced
    vectors.

    Scale posture: pairs come from an equi self-join at a fixed id gap
    (deterministic sampling, no cross product); projection and both
    norms are map-side integer array algebra per pair; output is a
    constant-size band grid. At 100 TB the same audit runs on any
    sampled pair table.""".format(k=_JL_K)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "q"
        ),
    ).filter(F.col("vec_id") >= _JL_P0)
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            F.col("b.vec_id") == F.col("a.vec_id") + _JL_PAIR_GAP,
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.expr(
                "zip_with(a.q, b.q, (x, y) -> x - y)"
            ).alias("dv"),
        )
    )
    proj_cols = ", ".join(
        "aggregate(zip_with(dv, sequence(0, 63), (d, i) -> d * "
        + _JL_SIGN.format(i="i", j=j)
        + "), CAST(0 AS BIGINT), (acc, t) -> acc + t)"
        for j in range(_JL_K)
    )
    proj = pairs.select(
        "a_id",
        "b_id",
        F.expr(
            "aggregate(zip_with(dv, dv, (x, y) -> x * y), CAST(0 AS BIGINT),"
            " (acc, t) -> acc + t)"
        ).alias("d2_full"),
        F.expr(f"array({proj_cols})").alias("y"),
    )
    ratio = proj.filter(F.col("d2_full") > 0).select(
        F.expr(
            "aggregate(zip_with(y, y, (a, b) -> a * b), CAST(0 AS BIGINT),"
            " (acc, t) -> acc + t)"
        ).alias("d2_proj"),
        "d2_full",
    ).select(
        F.expr(f"CAST(d2_proj * 10000 div ({_JL_K} * d2_full) AS BIGINT)").alias(
            "ratio_bp"
        )
    )
    return (
        ratio.groupBy(F.expr("CAST(ratio_bp div 2500 AS BIGINT)").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("ratio_bp").cast("bigint").alias("min_ratio_bp"),
            F.max("ratio_bp").cast("bigint").alias("max_ratio_bp"),
            F.expr("CAST(sum(ratio_bp) div count(1) AS BIGINT)").alias(
                "mean_ratio_bp"
            ),
        )
        .orderBy("band")
    )


# q464 grid-DBSCAN dials: cell edge (value units), density threshold,
# synchronized min-label rounds (the q270/q385 fixed-unroll contract)
_GDB_INV_EPS = 20  # cell edge 0.05 → floor(x·20)
_GDB_MINPTS = 5
_GDB_ROUNDS = 4
_GDB_OFF = 100  # shift to keep cell ids positive
_GDB_CELL = (
    f"(CAST(floor(embedding[{{one}}] * {_GDB_INV_EPS}) AS BIGINT) + {_GDB_OFF})"
)


def _gdb_label_round_sql(prev: str, i: int) -> str:
    """One synchronized min-label round over the dense-cell adjacency."""
    return f"""lab{i} AS (
      SELECT p.cell, least(p.lab, coalesce(min(q.lab), p.lab)) AS lab
      FROM {prev} p
      LEFT JOIN adj a ON a.cell = p.cell
      LEFT JOIN {prev} q ON q.cell = a.nbr
      GROUP BY p.cell, p.lab
    )"""


@query(
    "q464_grid_dbscan",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id,
             (CAST(floor(embedding[1] * {_GDB_INV_EPS}) AS BIGINT) + {_GDB_OFF})
               AS cx,
             (CAST(floor(embedding[2] * {_GDB_INV_EPS}) AS BIGINT) + {_GDB_OFF})
               AS cy
      FROM embeddings
    ),
    cells AS (
      SELECT cx, cy, cx * 1000 + cy AS cell, count(*)::BIGINT AS n_pts
      FROM pts GROUP BY cx, cy
    ),
    dense AS (SELECT * FROM cells WHERE n_pts >= {_GDB_MINPTS}),
    adj AS (
      SELECT a.cell, b.cell AS nbr
      FROM dense a JOIN dense b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       AND a.cell != b.cell
    ),
    lab0 AS (SELECT cell, cell AS lab FROM dense),
    {", ".join(_gdb_label_round_sql(f'lab{i}', i + 1) for i in range(_GDB_ROUNDS))}
    SELECT l.lab::BIGINT AS cluster_label,
           count(*)::BIGINT AS n_cells,
           sum(d.n_pts)::BIGINT AS n_points
    FROM lab{_GDB_ROUNDS} l JOIN dense d ON d.cell = l.cell
    GROUP BY l.lab
    UNION ALL
    SELECT -1, count(*), coalesce(sum(n_pts), 0)::BIGINT
    FROM cells WHERE n_pts < {_GDB_MINPTS}
    ORDER BY n_points DESC, cluster_label
    """,
    tags=("clustering", "dbscan", "grid", "density"),
)
def grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (distributed DBSCAN-lite) over the first
    two embedding dimensions: quantize points into ε-cells
    (ε = 1/{inv}), keep cells with ≥ {mp} points (density test),
    union 8-adjacent dense cells into clusters via {r} synchronized
    min-label rounds (the q270/q385 fixed-unroll contract — the label
    grid converges once a round changes nothing), and report each
    cluster's cell/point mass plus the sparse-cell noise bucket
    (label −1). The grid formulation is how DBSCAN actually scales on
    a cluster: the ε-neighborhood test becomes an equi-join on cell
    ids instead of an all-pairs distance join.

    Determinism: cells are integer floors of float32→double products;
    adjacency, density and min-label propagation are pure integer
    algebra.

    Scale: one hash-agg to the cell grid (≪ points); adjacency is a
    9-stencil EQUI-join on exact (cx, cy) over the bounded dense-cell
    set (each cell probes its shifted coords — never a nested-loop
    |Δ|<=1 theta join); each label round is one grid-sized join+agg.
    Points are never pairwise compared."""
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.expr(
            f"CAST(floor(element_at(embedding, 1) * {_GDB_INV_EPS}) AS BIGINT)"
            f" + {_GDB_OFF}"
        ).alias("cx"),
        F.expr(
            f"CAST(floor(element_at(embedding, 2) * {_GDB_INV_EPS}) AS BIGINT)"
            f" + {_GDB_OFF}"
        ).alias("cy"),
    )
    # Materialized: the final clusters+noise union and each round's double
    # lab reference would otherwise recompute the grid subtrees per branch.
    # All the materialized tables are grid-sized (≪ points).
    cells = materialize(
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .withColumn("cell", F.col("cx") * 1000 + F.col("cy"))
    )
    dense = materialize(cells.filter(F.col("n_pts") >= _GDB_MINPTS))
    # 9-stencil adjacency as an EQUI-join (guide §3.1): each dense cell
    # emits its 3×3 shifted coordinates and hash-joins back on the exact
    # (cx, cy) pair. The former |Δcx|<=1 AND |Δcy|<=1 theta predicate
    # could only plan as a BroadcastNestedLoopJoin — O(dense²) predicate
    # evaluations; the stencil is O(9·dense) hash probes and keeps the
    # identical pair set (a is within 1 of b ⟺ a sits on one of b's 9
    # shifted coords).
    probe = dense.select(
        F.col("cell").alias("nbr"),
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct(cx + ({dx}) AS cx, cy + ({dy}) AS cy)"
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                )
                + ")"
            )
        ).alias("nb"),
    ).select("nbr", F.col("nb.cx").alias("cx"), F.col("nb.cy").alias("cy"))
    adj = materialize(
        dense.join(probe, ["cx", "cy"])
        .filter(F.col("cell") != F.col("nbr"))
        .select("cell", "nbr")
    )
    lab = dense.select("cell", F.col("cell").alias("lab"))
    for _ in range(_GDB_ROUNDS):
        # each round references lab TWICE (neighbor-min probe + the outer
        # left join), so without a barrier the lab plan DOUBLES per round
        # — 2^rounds copies of the whole grid subtree (the r15 profile
        # measured 210 Exchanges / 157 scans in the final plan). The
        # bounded grid-sized label table is materialized per round
        # (guide §5).
        nbr_min = (
            adj.join(lab.withColumnRenamed("cell", "nbr"), "nbr")
            .groupBy("cell")
            .agg(F.min("lab").alias("nlab"))
        )
        lab = materialize(
            lab.join(nbr_min, "cell", "left")
            .select(
                "cell",
                F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias(
                    "lab"
                ),
            )
        )
    clusters = (
        lab.join(dense.select("cell", "n_pts"), "cell")
        .groupBy("lab")
        .agg(F.count(F.lit(1)).alias("n_cells"), F.sum("n_pts").alias("n_points"))
        .select(F.col("lab").alias("cluster_label"), "n_cells", "n_points")
    )
    noise = cells.filter(F.col("n_pts") < _GDB_MINPTS).agg(
        F.lit(-1).cast("bigint").alias("cluster_label"),
        F.count(F.lit(1)).alias("n_cells"),
        F.coalesce(F.sum("n_pts"), F.lit(0)).alias("n_points"),
    )
    return clusters.unionByName(noise).orderBy(
        F.desc("n_points"), "cluster_label"
    )


# ---- q482: reciprocal best match (mutual nearest neighbors) ---------------


@query(
    "q482_reciprocal_best_match",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_hyperplane_bucket("embedding", dialect="duckdb")} AS bucket,
             {norm64_expr("embedding", dialect="duckdb")} AS en
      FROM embeddings
    ),
    pairs AS (
      SELECT a.bucket, a.vec_id AS src, c.vec_id AS dst,
             CAST(floor(({dot64_expr("a.embedding", "c.embedding", dialect="duckdb")})
                   / (a.en * c.en) * 1e6) AS BIGINT) AS cos_mu
      FROM b a JOIN b c ON c.bucket = a.bucket AND c.vec_id != a.vec_id
    ),
    best AS (
      SELECT bucket, src, dst, cos_mu,
             row_number() OVER (PARTITION BY src ORDER BY cos_mu DESC, dst) AS rk
      FROM pairs
    )
    SELECT m1.src AS vec_a, m1.dst AS vec_b, m1.bucket,
           m1.cos_mu AS cosine_mu
    FROM best m1 JOIN best m2
      ON m2.src = m1.dst AND m2.dst = m1.src AND m2.rk = 1
    WHERE m1.rk = 1 AND m1.src < m1.dst
    ORDER BY vec_a
    """,
    tags=("similarity", "mutual-nn", "entity-resolution", "lsh"),
)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match (mutual nearest neighbors) — the
    high-precision linkage rule: a pair qualifies only when each vector
    is the OTHER's single best neighbor. One-directional best-match (a
    kNN join) happily links a hub vector to hundreds of sources; the
    mutuality condition kills hubs dead, which is why bilingual-lexicon
    and record-linkage pipelines (and MNN batch-effect correction) use
    exactly this rule as the confident-seed stage before transitive
    clustering (q90) or richer scoring (q453 Fellegi-Sunter).

    Determinism: candidates are bucket-local (the q73/q153 hyperplane-LSH
    bucket, integer weights); per-pair cosine is the bit-equal unrolled
    dot/norm sequence in BOTH dialects, floor-µ-quantized (no rounding
    tolerance needed — the doubles are identical); the best neighbor is
    row_number with the (cos_mu DESC, vec_id) total tiebreak, so the
    argmax cannot diverge cross-engine.

    Scale posture (100 TB): pairwise work is BUCKET-LOCAL all-pairs,
    never corpus all-pairs (more planes at larger corpora keep buckets
    O(1)); the best neighbor per source is a max(struct) hash aggregate
    (map-side partials, no sort — the row_number window this replaced
    sorted the whole pair table); the mutuality check is a count==2
    hash agg over the (min, max)-normalized rank-1 pairs — <= one row
    per vector, no self-join."""
    # Materialized: both self-join sides apply the 8-plane bucket
    # expression and the unrolled norm above the reused round-robin
    # exchange, so the corpus pass ran twice; the barrier computes it once
    # for both sides (2.28/1.64 → 1.37/1.28 s paired min-of-3 at sf0.1).
    e = materialize(
        table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("bucket", F.expr(_hyperplane_bucket("embedding", dialect="spark")))
        .withColumn("en", F.expr(norm_expr("embedding")))
        .select("vec_id", "embedding", "bucket", "en")
    )
    a = e.select(
        F.col("bucket"),
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("emb_a"),
        F.col("en").alias("na"),
    )
    c = e.select(
        F.col("bucket"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_b"),
        F.col("en").alias("nb"),
    )
    # score each UNORDERED pair once (src < dst), then mirror the scored
    # row for the other direction — halves the 64-term dot-product work
    # (cos is symmetric; the rank-1 window still needs both directions)
    # floor-µ over a BIT-EQUAL cross-engine double: both dialects compute
    # the identical unrolled left-assoc dot and norm sequences
    # (dot64_expr/norm64_expr), so the quotient is the same IEEE double in
    # Spark and DuckDB and floor-µ cannot flip — this replaced the old
    # round(cos, 6) agreement tolerance between dot/norm and DuckDB's
    # native list_cosine_similarity (round-on-quotient outputs are banned,
    # SCALE.md q288 post-mortem).
    half = materialize(
        a.join(c, "bucket").filter(F.col("src") < F.col("dst")).select(
            "bucket",
            "src",
            "dst",
            F.floor(
                F.expr(dot64_expr("emb_a", "emb_b")) / (F.col("na") * F.col("nb"))
                * F.lit(1e6)
            ).cast("bigint").alias("cos_mu"),
        )
    )
    pairs = half.unionByName(
        half.select(
            "bucket",
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "cos_mu",
        )
    )
    # rank-1 per source as max(struct(cos_mu, -dst)) — the same winner as
    # row_number over (cos_mu DESC, dst ASC), but a hash aggregate with
    # map-side partials instead of a full sort of the pair table (guide
    # §2.3 "aggregate before you shuffle"); mutuality is then a count==2
    # over the (min, max)-normalized pair instead of a self-join on the
    # swapped key — one tiny hash agg over a ≤1-row-per-vector table
    best = (
        pairs.groupBy("src")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_mu"),
                    (-F.col("dst")).alias("neg_dst"),
                    F.col("dst"),
                    F.col("bucket"),
                )
            ).alias("t")
        )
        .select(
            "src",
            F.col("t.dst").alias("dst"),
            F.col("t.bucket").alias("bucket"),
            F.col("t.cos_mu").alias("cos_mu"),
        )
    )
    return (
        best.select(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
            "bucket",
            "cos_mu",
        )
        .groupBy("vec_a", "vec_b")
        # a mutual pair's two rows carry the identical (bucket, cos_mu) —
        # cosine is symmetric and a vector has one bucket — so min() is
        # just a deterministic pick, not a choice
        .agg(
            F.count(F.lit(1)).alias("n_dir"),
            F.min("bucket").alias("bucket"),
            F.min("cos_mu").alias("cosine_mu"),
        )
        .filter(F.col("n_dir") == 2)
        .select("vec_a", "vec_b", "bucket", "cosine_mu")
        .orderBy("vec_a")
    )


# ---- q494: SQ8 quantization distortion audit --------------------------------
def _recon_expr(emb: str, mn: str, mx: str, *, dialect: str) -> str:
    """Reconstructed (decoded) SQ8 array: code = clamp(floor((x-mn)*255 /
    (mx-mn))), recon = mn + code*(mx-mn)/255 — q121's codec, inverted.
    Same literal structure both engines; fold/index order is ascending
    dimension in both."""
    if dialect == "spark":
        return (
            f"transform(sequence(1, 64), i -> element_at({mn}, i) + "
            f"coalesce(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), "
            f"CAST(floor((element_at({emb}, i) - element_at({mn}, i)) * 255.0 "
            f"/ nullif(element_at({mx}, i) - element_at({mn}, i), 0.0)) AS BIGINT))), 0) "
            f"* (element_at({mx}, i) - element_at({mn}, i)) / 255.0)"
        )
    return (
        f"list_transform(range(1, 65), i -> {mn}[i] + "
        f"coalesce(least(255, greatest(0, "
        f"CAST(floor(({emb}[i] - {mn}[i]) * 255.0 "
        f"/ nullif({mx}[i] - {mn}[i], 0.0)) AS BIGINT))), 0) "
        f"* ({mx}[i] - {mn}[i]) / 255.0)"
    )


def _cos_mu_expr(a: str, b: str, *, dialect: str) -> str:
    """Cosine of two double arrays, floor-quantized to integer µ — the
    left-fold dot/norm order matches between Spark's aggregate() and
    DuckDB's list_sum (the q72/q153 equivalence)."""
    if dialect == "spark":
        dot = (
            "aggregate(zip_with({x}, {y}, (p, q) -> p * q), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        dot = "list_sum(list_transform(range(1, 65), i -> {x}[i] * {y}[i]))"
    ab = dot.format(x=a, y=b)
    aa = dot.format(x=a, y=a)
    bb = dot.format(x=b, y=b)
    return f"CAST(floor(({ab}) / (sqrt({aa}) * sqrt({bb})) * 1000000.0) AS BIGINT)"


@query(
    "q494_sq8_distortion_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    stats AS (
      SELECT list(mn ORDER BY d) AS mn_arr, list(mx ORDER BY d) AS mx_arr
      FROM (
        SELECT d, min(emb[d + 1]) AS mn, max(emb[d + 1]) AS mx
        FROM e, range(64) t(d) GROUP BY d
      )
    ),
    q AS (
      SELECT e.emb AS qemb,
             {_recon_expr("e.emb", "s.mn_arr", "s.mx_arr", dialect="duckdb")} AS qrec
      FROM e CROSS JOIN stats s WHERE e.vec_id = {_QUERY_VEC_ID}
    ),
    scored AS (
      SELECT e.vec_id,
             abs({_cos_mu_expr("e.emb", "q.qemb", dialect="duckdb")}
                 - {_cos_mu_expr(_recon_expr("e.emb", "s.mn_arr", "s.mx_arr", dialect="duckdb"), "q.qrec", dialect="duckdb")})
               // 100 AS err_bp
      FROM e CROSS JOIN stats s CROSS JOIN q
      WHERE e.vec_id != {_QUERY_VEC_ID}
    )
    SELECT (err_bp // 10)::BIGINT AS err_bucket,
           count(*)::BIGINT AS n_vecs,
           max(err_bp)::BIGINT AS max_err_bp,
           (sum(err_bp) // count(*))::BIGINT AS mean_err_bp
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    tags=("similarity", "quantization", "audit", "sq8"),
)
def sq8_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantization distortion audit — the accuracy half of the
    compression trade q121 ships: for every corpus vector, the cosine to
    the query computed on RECONSTRUCTED (decode(encode(x))) vectors vs
    the exact cosine, as a basis-point error histogram (1-bp buckets of
    mean/max per decile bucket). This is the audit a vector platform
    publishes per index build — rising distortion says the per-dimension
    min/max trained on stale data no longer brackets the distribution
    (the q492 estimator-audit discipline applied to quantization).

    Determinism: codes are exact integers (clamped floor); the
    reconstruction and both cosines are fixed-order folds over 64 dims
    (identical literal structure both engines — Spark aggregate() vs
    DuckDB list_sum left-fold, the q72 equivalence), floor-quantized to
    integer µ before the subtraction; histogram stats are exact int64.

    Scale posture (100 TB): the codec stats are ONE 64-row agg broadcast
    back; encode/decode/score is map-only per vector (no shuffle of
    vectors); the histogram is a bounded hash-agg. Corpus-linear."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    stats = F.broadcast(
        e.select(F.posexplode("emb").alias("d0", "v"))
        .groupBy(F.col("d0"))
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d0, mn))), x -> x.mn)"
            ).alias("mn_arr"),
            F.expr(
                "transform(array_sort(collect_list(struct(d0, mx))), x -> x.mx)"
            ).alias("mx_arr"),
        )
    )
    qrow = F.broadcast(
        e.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .crossJoin(stats)
        .select(
            F.col("emb").alias("qemb"),
            F.expr(
                _recon_expr("emb", "mn_arr", "mx_arr", dialect="spark")
            ).alias("qrec"),
        )
    )
    scored = (
        e.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(stats)
        .crossJoin(qrow)
        .select(
            F.expr(
                f"abs({_cos_mu_expr('emb', 'qemb', dialect='spark')}"
                f" - {_cos_mu_expr(_recon_expr('emb', 'mn_arr', 'mx_arr', dialect='spark'), 'qrec', dialect='spark')})"
                " div 100"
            ).alias("err_bp")
        )
    )
    return (
        scored.groupBy(F.expr("err_bp div 10").cast("bigint").alias("err_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.max("err_bp").cast("bigint").alias("max_err_bp"),
            F.expr("sum(err_bp) div count(1)").cast("bigint").alias("mean_err_bp"),
        )
        .orderBy("err_bucket")
    )
