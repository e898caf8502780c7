"""Training-data pipeline resolution operators: near-dup pairs → dedup
CLUSTERS with keeper election, deterministic dataset splits, token-budget
shard packing. These are the steps after pair generation that an LLM data
pipeline actually ships.

The connected-components oracle is a DuckDB *recursive CTE* while Spark
runs distributed min-label propagation — two completely different
algorithms required to land on the identical fixpoint, which is a stronger
check than re-running the same plan."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import tok_hash_expr
from kinesis_customer_sample_spark.queries.dedup import ngram_jaccard_pairs
from kinesis_customer_sample_spark.queries.text_analysis import _DUCK_TOKS
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# shared pair-generation SQL (mirrors q68's oracle, jaccard >= 0.5)
_DUCK_PAIRS = f"""
    sh AS (
      SELECT doc_id, lang, list_distinct([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                                          for i in range(1, len(toks) - 1)]) AS shs
      FROM (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    postings AS (SELECT doc_id, lang, unnest(shs) AS sh FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM postings a JOIN postings b
        ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
      WHERE n_common::DOUBLE / (len(sa.shs) + len(sb.shs) - n_common) >= 0.5
    )
"""


@query(
    "q90_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_DUCK_PAIRS},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.doc = e.src
    ),
    comp AS (SELECT doc AS doc_id, min(lbl) AS component_id FROM reach GROUP BY doc)
    SELECT c.doc_id, c.component_id,
           count(*) OVER (PARTITION BY c.component_id) AS component_size,
           c.doc_id = min(c.doc_id) OVER (PARTITION BY c.component_id) AS is_keeper
    FROM comp c
    """,
    tags=("dedup", "clusters", "connected-components", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph → connected components → keeper election (min
    doc_id per cluster): the resolution step that turns pairwise dedup
    signals into drop decisions. Spark side is distributed min-label
    propagation — each iteration one join + min-agg, state checkpointed to
    break lineage — converging in O(component diameter) rounds (dup
    clusters are shallow; at 100 TB this is the standard large-graph CC
    loop, alternating-algorithm variants cut rounds further). The oracle
    reaches the same fixpoint via a recursive CTE — a genuinely different
    algorithm, so agreement checks the semantics, not the plan."""
    from kinesis_customer_sample_spark.queries.graph_components import (
        hash_min_components,
    )

    # materialize the pair list ONCE: the q68 postings subtree (tokenize +
    # shingle + inverted-index join) is the expensive part, and building
    # edges as pairs ∪ swap(pairs) would otherwise evaluate it twice
    pairs = materialize(ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    labels = hash_min_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lab").alias("component_id")
    )
    w = W.partitionBy("component_id")
    return labels.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(w).alias("component_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


@query(
    "q91_deterministic_split",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             {tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM hashed
    """,
    tags=("sampling", "split", "porthash"),
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by content-stable
    hash of the document id — no RNG, no seed coordination: any engine,
    any rerun, any shard of the fleet assigns the same document to the
    same split (the property that keeps eval sets uncontaminated across
    pipeline versions). Map-only; the hash is the portable polynomial."""
    d = table(spark, sf_dir, "documents")
    bucket = F.expr(f"{tok_hash_expr('CAST(doc_id AS STRING)', dialect='spark')} % 100")
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test").alias("split"),
    )


_SHARD_BUDGET = 10_000  # chars per training shard (token proxy)


@query(
    "q92_token_budget_packing",
    oracle=f"""
    WITH local AS (
      SELECT doc_id, source, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS local_offset
      FROM documents
    ),
    totals AS (
      SELECT source, sum(n_chars)::BIGINT AS part_chars FROM documents GROUP BY source
    ),
    starts AS (
      SELECT a.source, coalesce(sum(b.part_chars), 0)::BIGINT AS part_start
      FROM totals a LEFT JOIN totals b ON b.source < a.source
      GROUP BY a.source
    )
    SELECT l.doc_id, l.source, l.n_chars,
           (s.part_start + l.local_offset)::BIGINT                    AS offset_chars,
           ((s.part_start + l.local_offset) // {_SHARD_BUDGET})::BIGINT AS shard_id
    FROM local l JOIN starts s USING (source)
    """,
    tags=("packing", "sharding", "window"),
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: documents stream into fixed-budget
    training shards by running size (greedy sequential fill — the
    sequence-packing front end). TWO-LEVEL, never one global window: each
    `source` partition packs independently under a partitioned running-sum
    window (parallel across the cluster), then a tiny per-partition summary
    (one row per source) is turned into global start offsets via a
    triangular self-join — no unpartitioned WindowExec anywhere, so the
    corpus never serializes through a single task. Shards stay globally
    contiguous: partition k's docs occupy [part_start_k, part_start_k +
    part_chars_k). At 100 TB the summary table is O(#partitions) rows and
    broadcasts; everything heavy is partition-parallel."""
    d = table(spark, sf_dir, "documents")
    w_local = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    local = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w_local), F.lit(0)).alias("local_offset"),
    )
    totals = d.groupBy("source").agg(F.sum("n_chars").alias("part_chars"))
    # cumulative start per partition WITHOUT an unpartitioned window: the
    # summary is tiny (one row per source/date partition), so a triangular
    # self-join is O(k²) on k≈dozens and keeps WindowExec fully partitioned
    starts = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b.source") < F.col("a.source"), "left")
        .groupBy(F.col("a.source").alias("source"))
        .agg(F.coalesce(F.sum("b.part_chars"), F.lit(0)).alias("part_start"))
    )
    offset = F.col("part_start") + F.col("local_offset")
    return local.join(F.broadcast(starts), "source").select(
        "doc_id",
        "source",
        "n_chars",
        offset.alias("offset_chars"),
        F.floor(offset / _SHARD_BUDGET).cast("bigint").alias("shard_id"),
    )


@query(
    "q100_stratified_sample",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang, source, n_chars,
             {tok_hash_expr("'strat-' || doc_id::VARCHAR", dialect="duckdb")} % 100 AS bucket
      FROM documents
    )
    SELECT lang, count(*) AS n_sampled,
           -- ::BIGINT: sum(INT) is HUGEINT → float64 (round-1 driver FAIL q100)
           sum(n_chars)::BIGINT AS sampled_chars,
           min(doc_id)          AS first_doc
    FROM hashed
    WHERE bucket < 20
    GROUP BY lang
    """,
    tags=("sampling", "stratified", "porthash"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: ~20% per language stratum via the
    portable content-stable hash (salted with a sampling key so different
    samples draw independent buckets from the same ids). No RNG, no
    `sampleBy` seed coordination — every engine and rerun draws the same
    sample, the audit requirement for training-data lineage. Map-only
    filter + per-stratum aggregate."""
    d = table(spark, sf_dir, "documents")
    bucket = F.expr(
        f"{tok_hash_expr(chr(39) + 'strat-' + chr(39) + ' || CAST(doc_id AS STRING)', dialect='spark')} % 100"
    )
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 20)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )
