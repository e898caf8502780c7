"""Streaming mini-batch k-means (SURVEY.md §2B, streaming × ML crossover;
companion to q149's batch Lloyd iteration): centroids learned INCREMENTALLY
as embedding shards arrive — each micro-batch assigns its vectors to the
centroids-so-far and folds them into per-centroid running sums, the
Sculley (WWW'10) mini-batch scheme that replaces full-corpus Lloyd passes
at web scale.

Exactness engineering — the whole query is arranged so the stream and the
oracle's 4 unrolled stages produce IDENTICAL bits despite FP geometry:
- vectors are milli-quantized to BIGINT on entry (the q281 AUC recipe);
- a centroid with running state (cnt, sum) is never materialized as a
  float position for assignment: the squared distance to it is computed
  as Σ_d (x_d·cnt − sum_d)² — EXACT integer arithmetic — divided once by
  cnt² for cross-centroid comparability (empty centroids use their seed
  vector with cnt=1, same formula). Integer sums are associative, so
  shuffle/combine order cannot flip an argmin;
- per-centroid updates are integer (count, per-dim sum) aggregations;
- the emitted centroid signature is integer micro-units
  (round(sum/cnt·1000)), never a formatted double.

Scale posture (100 TB): per batch, assignment is one broadcast of k
(cnt, sum) states against the batch (map-side), and the update is one
(centroid, dim)-keyed integer aggregation — k·64 rows of state. The
driver holds only that k·64 state (the sanctioned bounded-scalar
coordination, same class as q149's centroid collect); everything
row-scaled stays on executors. A restart would re-seed state from the
checkpointed batch id by replaying the state table — here the state is
driver-held for the bounded 4-batch replay, as q149 does per iteration.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.streaming.replay import write_ordered_shards

_K = 8
_DIM = 64
_N_SHARDS = 4

_MILLI = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
_DUCK_MILLI = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
)


def assign_best(vecs: DataFrame, eff: DataFrame) -> DataFrame:
    """One assignment pass: broadcast the k (cid, ec, es) centroid states
    against the batch vectors and pick each vector's argmin by the exact
    integer distance Σ(x·ec − es)² / ec² (ties → lowest cid). Exposed for
    plan audits: the join must be the k-row broadcast, the argmin window
    partitioned by vec_id."""
    from pyspark.sql import Window as W

    dist = (
        "CAST(aggregate(zip_with(vi, es, (x, sd) -> (x * ec - sd) * (x * ec - sd)), "
        "CAST(0 AS BIGINT), (acc, e) -> acc + e) AS DOUBLE) "
        "/ CAST(ec * ec AS DOUBLE)"
    )
    scored = vecs.crossJoin(F.broadcast(eff)).withColumn("dist", F.expr(dist))
    w = W.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cid", "vi")
    )


def _duck_stage(t: int) -> str:
    """One unrolled mini-batch stage for the oracle: assign shard t against
    state st{t}, then fold the shard into st{t+1} (long-form elementwise
    integer sums, re-assembled ordered by dim)."""
    return f"""
    eff{t} AS (
      SELECT c.cid,
             CASE WHEN c.cnt > 0 THEN c.cnt ELSE 1 END AS ec,
             CASE WHEN c.cnt > 0 THEN c.s ELSE sd.vi END AS es
      FROM st{t} c JOIN seeds sd USING (cid)
    ),
    a{t} AS (
      SELECT v.vec_id, e.cid,
             CAST(list_sum(list_transform(generate_series(1, {_DIM}), i ->
               (v.vi[i] * e.ec - e.es[i]) * (v.vi[i] * e.ec - e.es[i])))
               AS DOUBLE) / CAST(e.ec * e.ec AS DOUBLE) AS dist
      FROM v, eff{t} e WHERE v.shard = {t}
    ),
    b{t} AS (
      SELECT vec_id, cid
      FROM (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rk
            FROM a{t})
      WHERE rk = 1
    ),
    cn{t} AS (SELECT cid, count(*) AS n FROM b{t} GROUP BY cid),
    upd{t} AS (
      SELECT b.cid, g.i AS d, sum(v.vi[g.i]) AS sx
      FROM b{t} b
      JOIN v USING (vec_id)
      CROSS JOIN generate_series(1, {_DIM}) g(i)
      GROUP BY b.cid, g.i
    ),
    st{t + 1} AS (
      SELECT c.cid,
             c.cnt + coalesce(any_value(cn.n), 0) AS cnt,
             list(c.s[g.i] + coalesce(u.sx, 0) ORDER BY g.i) AS s
      FROM st{t} c
      CROSS JOIN generate_series(1, {_DIM}) g(i)
      LEFT JOIN upd{t} u ON u.cid = c.cid AND u.d = g.i
      LEFT JOIN cn{t} cn ON cn.cid = c.cid
      GROUP BY c.cid, c.cnt
    )"""


@query(
    "q305_stream_minibatch_kmeans",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, (vec_id % {_N_SHARDS})::INT AS shard, {_DUCK_MILLI} AS vi
      FROM embeddings
    ),
    seeds AS (SELECT vec_id::INT AS cid, vi FROM v WHERE vec_id < {_K}),
    st0 AS (
      SELECT cid, 0::BIGINT AS cnt,
             list_transform(vi, x -> 0::BIGINT) AS s
      FROM seeds
    ),
    {",".join(_duck_stage(t) for t in range(_N_SHARDS))}
    SELECT c.cid::BIGINT AS cid,
           c.cnt::BIGINT AS n_assigned,
           list_aggregate(list_transform(generate_series(1, {_DIM}), i ->
             CAST(CASE WHEN c.cnt > 0
                       THEN CAST(round(CAST(c.s[i] AS DOUBLE) / c.cnt * 1000.0)
                                 AS BIGINT)
                       ELSE sd.vi[i] * 1000 END AS VARCHAR)),
             'string_agg', ',') AS centroid_micro
    FROM st{_N_SHARDS} c JOIN seeds sd USING (cid)
    """,
    tags=("streaming", "ml", "kmeans", "mini-batch", "foreachBatch"),
)
def stream_minibatch_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini-batch k-means over a 4-shard embedding stream: shard files
    arrive in forced mtime order; every micro-batch assigns its vectors
    to the current k=8 centroid states with EXACT integer distance
    algebra (Σ(x·cnt − sum)² / cnt² — no float centroid is ever formed
    for assignment) and folds integer (count, per-dim sum) deltas into
    the running state. The oracle unrolls the same four stages in SQL;
    hash equality proves the streaming state evolution is bit-identical
    to the batch replay — the strongest stream/batch-equivalence claim an
    incremental ML operator can make. Emits each centroid's final visit
    count and integer micro-unit signature."""
    emb = table(spark, sf_dir, "embeddings")
    seeds = {
        int(r["vec_id"]): list(r["vi"])
        for r in emb.filter(F.col("vec_id") < _K)
        .select("vec_id", F.expr(_MILLI).alias("vi"))
        .collect()
    }
    # driver-held running state: cid -> (cnt, per-dim integer sums). k·64
    # bounded scalars — the q149-class coordination state, not data.
    state = {cid: (0, [0] * _DIM) for cid in seeds}
    folded: set[int] = set()  # retry guard: an epoch folds exactly once

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in folded:  # foreachBatch retry — already folded
            return
        sess = batch_df.sparkSession
        eff_rows = [
            (cid, cnt if cnt > 0 else 1, s if cnt > 0 else seeds[cid])
            for cid, (cnt, s) in sorted(state.items())
        ]
        eff = sess.createDataFrame(eff_rows, "cid int, ec bigint, es array<bigint>")
        vecs = batch_df.select("vec_id", F.expr(_MILLI).alias("vi"))
        best = assign_best(vecs, eff)
        deltas = (
            best.select("cid", F.posexplode("vi").alias("d", "x"))
            .groupBy("cid", "d")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .collect()
        )  # ≤ k·64 rows — bounded
        counts: dict[int, int] = {}
        for r in deltas:
            cid, d = int(r["cid"]), int(r["d"])
            cnt, s = state[cid]
            s[d] += int(r["sx"])
            counts[cid] = int(r["n"])  # same n for every dim of the cid
        for cid, n in counts.items():
            cnt, s = state[cid]
            state[cid] = (cnt + n, s)
        # Mark folded only AFTER the driver-side state mutation completes:
        # if the fold job fails mid-epoch and the batch is retried, marking
        # up-front would silently skip the retry and lose the shard's
        # deltas (r4 advice). The mutation is a pure-local loop over ≤k·64
        # collected rows — atomic for retry purposes once collect returns.
        folded.add(epoch_id)

    # the rows come from the driver-held state, not from these files
    with tempfile.TemporaryDirectory(prefix="kcss_q305_") as base:
        src_dir = os.path.join(base, "src")
        write_ordered_shards(emb, src_dir, _N_SHARDS, "vec_id")
        sdf = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        (
            sdf.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    final_rows = [
        (cid, cnt, s, seeds[cid]) for cid, (cnt, s) in sorted(state.items())
    ]
    out = spark.createDataFrame(
        final_rows, "cid bigint, cnt bigint, s array<bigint>, seed array<bigint>"
    )
    # never-assigned centroids report their seed position (cnt=0 would
    # otherwise divide by zero — and double/0 semantics differ per engine)
    sig = (
        "array_join(zip_with(s, seed, (x, sv) -> CAST(CASE WHEN cnt > 0 THEN "
        "CAST(round(CAST(x AS DOUBLE) / cnt * 1000.0) AS BIGINT) "
        "ELSE sv * 1000 END AS STRING)), ',')"
    )
    return out.select(
        "cid",
        F.col("cnt").alias("n_assigned"),
        F.expr(sig).alias("centroid_micro"),
    )
