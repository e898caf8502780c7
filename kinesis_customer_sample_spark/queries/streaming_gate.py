"""Streaming near-duplicate ingest gate (SURVEY.md §2B, streaming × LLM
curation crossover): the batch MinHash-LSH machinery (q69) run AT THE
FRONT DOOR — every arriving crawl shard is checked against the bucket
index accumulated from everything that arrived before it, so duplicates
never enter the corpus at all (the posture production curation pipelines
actually want: q150 gates exact doc_id replays; this gates NEAR-dups).

Semantics — "seen-bucket" gating, the contract a Bloom/LSH front gate
implements: a document is REJECTED iff any of its 4 LSH band buckets was
already occupied by ANY earlier-arriving document (admitted or not), where
arrival order is (shard, doc_id) — shards arrive as whole files, docs
within a shard are ordered by id. This is deliberately NOT the sequential
greedy "only admitted docs occupy buckets" rule: seen-bucket gating is
order-parallelizable within a batch (min-arrival per bucket decides
everything), which is what makes it runnable as one keyed aggregation per
micro-batch instead of a per-document serial loop — and it is exactly
what a Bloom-filter gate computes, since Bloom bits cannot be un-set.

The oracle states the same thing in closed form over the batch table: a
doc is admitted iff no lexicographically-earlier (shard, doc_id) shares a
band bucket — so the hash match proves the streaming index accumulation
reproduces global first-wins semantics across 4 independent micro-batches.

Scale posture (100 TB): per batch, signatures are map-side per-doc
expressions (arrival-time signing is inherently per-doc; the distinct-
shingle broadcast trick of q69 is a full-corpus batch optimization);
the only shuffles are the (band, bucket) min-aggregation and the hash
join against the index — both keyed by bucket id, the same key the
index store is partitioned on. The index grows by one row per (doc,
band): at cluster scale it lives in a bucket-partitioned table (or a
Bloom filter per partition) and the probe stays a key-partitioned join;
the checkpoint guarantees each shard is gated exactly once.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import tok_hash_expr
from kinesis_customer_sample_spark.queries.dedup import (
    _DUCK_SHINGLES,
    _SPARK_SHINGLES,
    _band_hash,
    _minhash_expr,
    N_BANDS,
)
from kinesis_customer_sample_spark.queries.text_analysis import _DUCK_TOKS, _SPARK_TOKS
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize, scratch
from kinesis_customer_sample_spark.streaming.replay import write_ordered_shards

_N_SHARDS = 4

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("b", T.IntegerType()),
        T.StructField("bh", T.LongType()),
    ]
)


def _doc_bands(docs: DataFrame) -> DataFrame:
    """Per-document LSH band buckets (doc_id, b, bh) — the q69 signature
    chain as pure map-side expressions (tokens → 3-shingles → hashes →
    16 minhashes → 4 band buckets). Docs with <3 tokens emit no bands."""
    band_arr = f"transform(sequence(0, {N_BANDS - 1}), b -> {_band_hash('spark')})"
    return (
        docs.withColumn("toks", F.expr(_SPARK_TOKS))
        .filter(F.size("toks") >= 3)
        .withColumn("shs", F.expr(_SPARK_SHINGLES))
        .withColumn("hs", F.expr(f"transform(shs, s -> {tok_hash_expr('s', dialect='spark')})"))
        .withColumn("mh", F.expr(_minhash_expr("spark")))
        .select(
            "doc_id",
            F.posexplode(F.expr(band_arr)).alias("b", "bh"),
        )
        .select("doc_id", F.col("b").cast("int").alias("b"), F.col("bh").cast("long").alias("bh"))
    )


@query(
    "q303_stream_neardup_gate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shs
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    mh AS (
      SELECT doc_id, {_minhash_expr("duckdb")} AS mh
      FROM (SELECT doc_id,
                   list_transform(shs, s -> {tok_hash_expr("s", dialect="duckdb")}) AS hs
            FROM sh)
    ),
    bands AS (
      SELECT doc_id, b, {_band_hash("duckdb")} AS bh
      FROM (SELECT doc_id, mh, unnest([0, 1, 2, 3]) AS b FROM mh)
    ),
    rejected AS (
      SELECT DISTINCT d.doc_id
      FROM bands d
      JOIN bands o
        ON o.b = d.b AND o.bh = d.bh
       AND ((o.doc_id % {_N_SHARDS} < d.doc_id % {_N_SHARDS})
            OR (o.doc_id % {_N_SHARDS} = d.doc_id % {_N_SHARDS}
                AND o.doc_id < d.doc_id))
    )
    SELECT doc_id::BIGINT AS doc_id,
           (doc_id % {_N_SHARDS})::BIGINT AS shard,
           doc_id NOT IN (SELECT doc_id FROM rejected) AS admitted
    FROM documents
    """,
    tags=("streaming", "dedup", "minhash", "lsh", "ingest-gate", "foreachBatch"),
)
def stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup gate: the corpus is re-sharded into
    4 arrival files (shard = doc_id mod 4, mtimes forced strictly
    increasing so the file source replays them in order), each micro-batch
    signs its documents map-side, probes the accumulated (band, bucket)
    index, rejects any doc whose bucket was seen by an earlier arrival
    (earlier batch, or lower doc_id in the same batch — resolved by one
    min-doc_id aggregation per bucket), then appends its own buckets to
    the index. Emits one verdict row per document. The oracle computes
    global first-wins-by-(shard, doc_id) in closed form — hash equality
    proves the 4-batch incremental index reproduces the batch answer."""
    base = scratch("q303")
    src_dir = os.path.join(base, "src")
    idx_dir = os.path.join(base, "index")
    out_dir = os.path.join(base, "out")
    os.makedirs(src_dir)

    docs = table(spark, sf_dir, "documents")
    write_ordered_shards(docs, src_dir, _N_SHARDS, "doc_id")

    # seed an empty index so batch 0's probe is schema-safe
    spark.createDataFrame([], _BANDS_SCHEMA).write.parquet(f"{idx_dir}/epoch=-1")

    def gate(batch_df: DataFrame, epoch_id: int) -> None:
        # Retry idempotence: foreachBatch may re-run an epoch after a
        # failure. Both sinks write to epoch-keyed subdirs with OVERWRITE,
        # so a replayed epoch replaces its own output instead of
        # double-appending (the q285 manifest argument, in directory form;
        # duplicate bands would be semantically harmless for seen-bucket
        # gating, but duplicate verdict rows would corrupt the output).
        # The probe reads STRICTLY EARLIER epochs only (partition-pruned
        # filter on the epoch dir key): a crash between the bands write and
        # the checkpoint commit leaves this epoch's own bands behind, and an
        # epoch=* glob would self-match every doc in the replayed batch and
        # reject the whole batch (r4 advice, medium).
        bands = materialize(_doc_bands(batch_df))  # sign once, probe+append
        sess = batch_df.sparkSession
        seen = (
            sess.read.schema(
                # fresh StructType: .add() mutates the module-level schema
                T.StructType(
                    list(_BANDS_SCHEMA.fields)
                    + [T.StructField("epoch", T.LongType())]
                )
            )
            .option("basePath", idx_dir)
            .parquet(f"{idx_dir}/epoch=*")
            .filter(F.col("epoch") < F.lit(int(epoch_id)))
            .drop("epoch")
        )
        hit_idx = bands.join(seen, ["b", "bh"], "left_semi").select("doc_id")
        first = bands.groupBy("b", "bh").agg(F.min("doc_id").alias("first_id"))
        hit_batch = (
            bands.join(first, ["b", "bh"])
            .filter(F.col("first_id") < F.col("doc_id"))
            .select("doc_id")
        )
        rejected = hit_idx.unionByName(hit_batch).distinct()
        verdicts = (
            batch_df.select("doc_id")
            .join(rejected.withColumn("rej", F.lit(True)), "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("rej"), F.lit(False)).alias("rejected"))
        )
        verdicts.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        bands.write.mode("overwrite").parquet(f"{idx_dir}/epoch={epoch_id}")

    # stream schema from the just-written shards' own frame — drift-proof
    # against fixture dtype regeneration (the round-2 bench crash class)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with tempfile.TemporaryDirectory(prefix="ckpt_q303_") as ckpt:
        (
            sdf.writeStream.foreachBatch(gate)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.parquet(f"{out_dir}/epoch=*").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.col("doc_id") % _N_SHARDS).cast("bigint").alias("shard"),
        (~F.col("rejected")).alias("admitted"),
    )
