"""Perceptual-hash near-duplicate detection over media payloads — round-3
wave (SURVEY.md §2B multimodal rows). q186 catches bit-identical blobs
(content hash); this is the NEAR-duplicate tier: a 48-bit average-hash
(aHash) over the payload byte stream — each hash bit says whether the mean
byte value of one of 48 equal payload slices exceeds the whole-payload
mean, the classic perceptual-hash construction applied to the fixture's
byte-level featurizer (the container has no codecs; on real images the
identical banding/verify machinery runs over pixel-block means instead,
operators/multimodal.py's documented codec seam).

Scale posture (100 TB): hashing is map-only (one pass per payload: split
into chars, integer sums — exact, no floats, O(L) per row). Candidate
generation is LSH-style banding, never all-pairs: the 48-bit hash splits
into 4 bands of 12 bits; only payloads agreeing exactly on some band meet
in the band-bucket equi-join (q69/q70's shape — one shuffle on
(band_idx, band_val), 4096 values per band so bucket sizes stay bounded).
The report is the global top-20 closest candidate pairs via
TakeOrderedAndProject (q30's shape) — only (doc_id, 48-bit hash) rows ever
join or sort, payload bytes never shuffle. The production dedup gate is the
same plan with `hamming <= 3` in place of the top-k: a pair differing in
≤ 3 of 48 bits must agree exactly on at least one 12-bit band (pigeonhole:
4 bands, 3 flipped bits), so banding loses NO pair that gate would accept —
recall 1.0 by construction, the q69 band-math argument. The fixture corpus
has no pairs that close (min Hamming at sf0.01 is 6), which is why the
checked query reports nearest candidates instead of a trivially-empty set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_NB = 48  # hash bits
_BANDS = 4  # 12 bits each
_TOP_K = 20

# one O(L) pass: split into single chars, then codepoints (identical
# cross-engine: neither split emits a trailing empty element)
_SPARK_CODES = "transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))"
_DUCK_CODES = "list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT)"

# bit i set iff mean(slice_i) > mean(whole), compared cross-multiplied so
# the whole computation stays in exact int64 (slice_sum * L vs total * slen)
_SPARK_AHASH = f"""
aggregate(sequence(1, {_NB}), CAST(0 AS BIGINT), (acc, i) ->
  acc + IF(
    aggregate(slice(codes, CAST((i-1) * L DIV {_NB} AS INT) + 1,
                    CAST(greatest(0L, i * L DIV {_NB} - (i-1) * L DIV {_NB}) AS INT)),
              CAST(0 AS BIGINT), (a2, c2) -> a2 + c2) * L
      > total * (i * L DIV {_NB} - (i-1) * L DIV {_NB}),
    shiftleft(CAST(1 AS BIGINT), CAST(i - 1 AS INT)), CAST(0 AS BIGINT)))
"""
_DUCK_AHASH = f"""
list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, {_NB}), i ->
  CASE WHEN list_reduce(list_prepend(0::BIGINT,
              list_slice(codes, ((i-1) * L // {_NB}) + 1, i * L // {_NB})),
            (a2, c2) -> a2 + c2) * L
         > total * (i * L // {_NB} - (i-1) * L // {_NB})
       THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)),
  (acc, b) -> acc + b)
"""


@query(
    "q210_media_ahash_neardup",
    oracle=f"""
    WITH tot AS (
      SELECT doc_id, L, codes,
             list_reduce(list_prepend(0::BIGINT, codes), (a, c) -> a + c) AS total
      FROM (SELECT doc_id, length(text) AS L, {_DUCK_CODES} AS codes FROM documents)
    ),
    hashed AS (SELECT doc_id, {_DUCK_AHASH} AS ahash FROM tot),
    bands AS (
      SELECT doc_id, ahash, b AS band_idx,
             (ahash >> (b * 12)) & 4095 AS band_val
      FROM hashed, (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.ahash AS ha, b.ahash AS hb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(ha, hb))::BIGINT AS hamming
    FROM cand
    ORDER BY hamming, doc_a, doc_b
    LIMIT {_TOP_K}
    """,
    tags=("multimodal", "dedup", "phash", "topk"),
)
def media_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest perceptual-hash pairs: 48-bit average-hash map-side, 4×12-bit
    band explode, band-bucket equi-join for candidates (no all-pairs),
    then the global 20 closest pairs by Hamming distance (deterministic
    (hamming, doc_a, doc_b) order → TakeOrderedAndProject). The tiny
    hashed table (one int64 per payload) is materialized so the O(L)
    payload hashing runs once, not once per self-join side."""
    docs = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.length("text").alias("L"), F.expr(_SPARK_CODES).alias("codes"))
        .withColumn("total", F.expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)"))
    )
    # (doc_id, int64) per payload — tiny; avoids re-hashing on both join sides
    hashed = materialize(docs.select("doc_id", F.expr(_SPARK_AHASH).alias("ahash")))
    bands = hashed.select(
        "doc_id",
        "ahash",
        F.explode(F.array(*[F.lit(b) for b in range(_BANDS)])).alias("band_idx"),
    ).withColumn("band_val", F.expr("(ahash >> (band_idx * 12)) & 4095"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a", "doc_b", F.expr("bit_count(ha ^ hb)").cast("bigint").alias("hamming")
        )
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(_TOP_K)
    )
