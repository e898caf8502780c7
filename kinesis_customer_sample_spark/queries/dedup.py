"""Deduplication operators over `documents`/`embeddings` (SURVEY.md §2B:
exact dedup, n-gram Jaccard, MinHash-LSH, SimHash, embedding near-dup).

All hash-dependent variants use the portable polynomial hash
(functions/porthash.py), so every query here — including MinHash-LSH and
SimHash, usually relegated to rows-only checks — is *hash-match*
oracle-verified against DuckDB running the identical arithmetic.

Scale posture (100 TB): no O(N²) pair enumeration anywhere. Candidate pairs
come from inverted-index joins — shingle-postings (q68), LSH band buckets
(q69), lang blocks + SimHash prefilter (q70), label blocks (q71) — so the
join keys are the blocking keys and Spark shuffles only postings, never the
cross product. Map-side partial aggregation keeps the shingle/bucket
explode shuffles proportional to distinct keys. Skewed buckets (one viral
shingle) are AQE skew-split; at production scale the standard extra guard
is dropping postings with document-frequency above a cap, noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import MOD_P, band_hash_expr, cosine_expr, tok_hash_expr
from kinesis_customer_sample_spark.functions.porthash import _PERM_OFF
from kinesis_customer_sample_spark.queries.text_analysis import (
    _DUCK_TOKS,
    _SPARK_TOKS,
    _docs_with_tokens,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# 3-token shingles (distinct), per dialect
_SPARK_SHINGLES = (
    f"array_distinct(transform(sequence(1, size(toks) - 2), "
    f"i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))"
)
_DUCK_SHINGLES = (
    "list_distinct([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] "
    "for i in range(1, len(toks) - 1)])"
)

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS

# Document-frequency cap for the postings self-join (q68): a shingle that
# appears in more than DF_CAP documents contributes O(df²) candidate pairs
# — one viral boilerplate line can dominate the whole shuffle. Shingles
# above the cap carry near-zero Jaccard signal (they are stopword-like),
# so production pipelines drop them before the join. The default sits far
# above the test corpus's max df (14 at sf0.1), so oracle results are
# unchanged at test scale; at 100 TB, tune it to bound the hottest posting
# list at df²·rows ≈ one task's worth of pairs.
DF_CAP = 128


def capped_postings(postings: DataFrame, cap: int = DF_CAP) -> DataFrame:
    """Drop postings whose (lang, shingle) document frequency exceeds `cap`.

    The hot-key set is tiny by construction (only keys with df > cap), so
    it broadcasts and the filter is a map-side anti-join — no extra shuffle
    on the postings themselves; the df aggregation shuffles only (lang, sh,
    count) triples with map-side partial counts."""
    hot = (
        postings.groupBy("lang", "sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("lang", "sh")
    )
    return postings.join(F.broadcast(hot), ["lang", "sh"], "left_anti")


@query(
    "q67_exact_dedup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, sha256(lower(trim(text))) AS content_hash
      FROM documents
    )
    SELECT content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*)    AS group_size,
           count(*) - 1 AS n_dropped
    FROM hashed
    GROUP BY content_hash
    """,
    tags=("dedup", "exact"),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: sha256(lower(trim(text))) →
    one keeper (min doc_id) per group. One hash-agg shuffle on a
    64-hex-char key; at 100 TB the same plan holds — the hash is computed
    map-side and only (hash, doc_id) pairs shuffle, never text."""
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.sha2(F.lower(F.trim("text")), 256))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize the single-file scan before the interpreted shingle
    # lambdas (same rationale as text_analysis._docs_with_tokens), and
    # materialize before the downstream explode()s — Generate over an inline
    # lambda column re-evaluates the chain many times per row
    return materialize(
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", F.expr(_SPARK_TOKS))
        .filter(F.size("toks") >= 3)
        .withColumn("shs", F.expr(_SPARK_SHINGLES))
    )


@query(
    "q68_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, {_DUCK_SHINGLES} AS shs
      FROM (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    postings AS (SELECT doc_id, lang, unnest(shs) AS sh FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM postings a JOIN postings b
        ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common::DOUBLE / (len(sa.shs) + len(sb.shs) - n_common), 6) AS jaccard
    FROM common
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE n_common::DOUBLE / (len(sa.shs) + len(sb.shs) - n_common) >= 0.5
    """,
    tags=("dedup", "jaccard", "ngram"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-token-shingle Jaccard ≥ 0.5, found via an
    inverted-index (postings) self-join blocked on (lang, shingle) — the
    co-occurrence count per pair IS the intersection size, so no pair ever
    materializes unless it shares a shingle. The document-frequency cap
    (capped_postings, DF_CAP) bounds the hottest posting list so one viral
    shingle can't generate O(df²) pairs; AQE skew-split covers moderate
    skew below the cap."""
    sh = _shingle_sets(spark, sf_dir).select("doc_id", "lang", "shs")
    postings = capped_postings(
        sh.select("doc_id", "lang", F.explode("shs").alias("sh"))
    )
    a, b = postings.alias("a"), postings.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.size("shs").alias("na"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.size("shs").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _minhash_expr(dialect: str) -> str:
    """16 minhash values from the shingle-hash array `hs` (nested lambdas:
    outer over permutation index, inner over shingle hashes)."""
    # i comes from sequence()/generate_series() — INT in Spark, so the i·OFF
    # product must be forced to BIGINT or ANSI mode overflows
    perm = f"(h * (17 + 2 * i) + CAST(i AS BIGINT) * {_PERM_OFF}) % {MOD_P}"
    if dialect == "spark":
        return f"transform(sequence(0, {N_MINHASH - 1}), i -> array_min(transform(hs, h -> {perm})))"
    return (
        f"list_transform(generate_series(0, {N_MINHASH - 1}), "
        f"i -> list_min(list_transform(hs, h -> {perm})))"
    )


def _band_hash(dialect: str) -> str:
    """Bucket id for LSH band `b` (0-based) over the minhash array `mh`."""
    if dialect == "spark":
        parts = [f"element_at(mh, {ROWS_PER_BAND} * b + {j + 1})" for j in range(ROWS_PER_BAND)]
    else:
        parts = [f"mh[{ROWS_PER_BAND} * b + {j + 1}]" for j in range(ROWS_PER_BAND)]
    return band_hash_expr(parts)


@query(
    "q69_minhash_lsh_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shs
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    mh AS (
      SELECT doc_id, shs, {_minhash_expr("duckdb")} AS mh
      FROM (SELECT doc_id, shs,
                   list_transform(shs, s -> {tok_hash_expr("s", dialect="duckdb")}) AS hs
            FROM sh)
    ),
    bands AS (
      SELECT doc_id, mh, shs, b, {_band_hash("duckdb")} AS bh
      FROM (SELECT doc_id, mh, shs, unnest([0, 1, 2, 3]) AS b FROM mh)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(list_sum(list_transform(generate_series(1, {N_MINHASH}),
                 i -> CASE WHEN ma.mh[i] = mb.mh[i] THEN 1 ELSE 0 END))::DOUBLE
                 / {N_MINHASH}, 6) AS est_jaccard,
           round(len(list_intersect(ma.shs, mb.shs))::DOUBLE
                 / (len(ma.shs) + len(mb.shs) - len(list_intersect(ma.shs, mb.shs))), 6)
             AS jaccard
    FROM cand
    JOIN mh ma ON ma.doc_id = doc_a
    JOIN mh mb ON mb.doc_id = doc_b
    WHERE len(list_intersect(ma.shs, mb.shs))::DOUBLE
          / (len(ma.shs) + len(mb.shs) - len(list_intersect(ma.shs, mb.shs))) >= 0.5
    """,
    tags=("dedup", "minhash", "lsh", "porthash"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, the 100 TB workhorse: 3-token
    shingles → 16 portable universal-hash minhashes → 4 bands × 4 rows →
    band-bucket self-join for candidates → exact Jaccard verify ≥ 0.5.
    Candidates only ever materialize for docs agreeing on a full band, so
    the join is bucket-blocked, never all-pairs. Hash-match oracle-checked
    end-to-end: DuckDB runs the identical permutation arithmetic — minhash
    signatures, band buckets, and the final pair set all agree bit-for-bit
    (the usual ◐ rows-only concession is not needed)."""
    # Spark-side plan, tuned for scale (the oracle SQL recomputes the same
    # values its own way — results must match, plans need not):
    # 1. hash each DISTINCT shingle string once and broadcast-join the
    #    hashes back to the postings. Spark evaluates higher-order lambdas
    #    interpreted (not codegen), so per-char hashing must run per
    #    distinct shingle (~|vocab³|), never per occurrence (~50× more);
    # 2. compute the 16 minhashes as plain min() aggregates over the
    #    exploded postings — whole-stage-codegen'd arithmetic, one shuffle
    #    on doc_id with map-side partial mins;
    # 3. materialize the small signature table: bands a/b and the verify
    #    join ma/mb reuse it (at 100 TB: write signatures to parquet once).
    # Measured at sf0.1: 46 s (array-lambda form) → ~4 s.
    sh = _shingle_sets(spark, sf_dir).select("doc_id", "shs")
    postings = sh.select("doc_id", F.explode("shs").alias("s"))
    sh_hash = (
        postings.select("s")
        .distinct()
        .withColumn("h", F.expr(tok_hash_expr("s", dialect="spark")))
    )
    perm = "(h * (17 + 2 * {i}) + CAST({i} AS BIGINT) * " + str(_PERM_OFF) + ") % " + str(MOD_P)
    mins = (
        postings.join(F.broadcast(sh_hash), "s")
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.expr(perm.format(i=i))).alias(f"mh{i}")
                for i in range(N_MINHASH)
            ]
        )
    )
    band_cols = [
        F.expr(band_hash_expr([f"mh{4 * b + j}" for j in range(ROWS_PER_BAND)])).alias(f"bh{b}")
        for b in range(N_BANDS)
    ]
    mh = materialize(
        mins.select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)]).alias("mh"),
            *band_cols,
        )
        .join(sh, "doc_id")
    )
    stack_args = ", ".join(f"{b}, bh{b}" for b in range(N_BANDS))
    bands = mh.selectExpr("doc_id", f"stack({N_BANDS}, {stack_args}) AS (b, bh)")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ma = mh.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"), F.col("mh").alias("mh_a"))
    mb = mh.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"), F.col("mh").alias("mh_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter / (F.size("shs_a") + F.size("shs_b") - inter)
    est = (
        F.expr(
            f"aggregate(zip_with(mh_a, mh_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
            f"0, (acc, v) -> acc + v)"
        )
        / N_MINHASH
    )
    return (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .filter(jac >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


_SIMHASH_BITS = 24


def _simhash_expr(dialect: str) -> str:
    """24-bit SimHash from the (multiplicity-preserving) token-hash array
    `hs`: bit j of the signature is the sign of Σ_tokens (2·bit_j(h) − 1)."""
    if dialect == "spark":
        vote = f"aggregate(hs, 0, (acc, h) -> acc + CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END)"
        return (
            f"aggregate(transform(sequence(0, {_SIMHASH_BITS - 1}), "
            f"j -> CASE WHEN {vote} > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END), "
            f"CAST(0 AS BIGINT), (a, v) -> a + v)"
        )
    vote = f"list_sum(list_transform(hs, h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END))"
    # outer ::BIGINT: DuckDB list_sum is HUGEINT, which surfaces as float64
    # and hash-mismatches Spark's int64 signature (round-1 driver FAIL q70)
    return (
        f"list_sum(list_transform(generate_series(0, {_SIMHASH_BITS - 1}), "
        f"j -> CASE WHEN {vote} > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT"
    )


@query(
    "q70_simhash_pairs",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {_simhash_expr("duckdb")} AS simhash
      FROM (SELECT doc_id, lang,
                   list_transform({_DUCK_TOKS}, t -> {tok_hash_expr("t", dialect="duckdb")}) AS hs
            FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS simhash_a, b.simhash AS simhash_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM h a JOIN h b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
    tags=("dedup", "simhash", "porthash"),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 24-bit sign-of-weighted-votes signature over token
    hashes (multiplicity preserved — SimHash weights by term frequency),
    pairs within Hamming distance 2, lang-blocked. At 100 TB the block key
    becomes simhash bit-bands (split the signature into 4 six-bit chunks;
    near pairs must collide on ≥ 1 chunk — same pigeonhole trick as LSH),
    which this plan's join shape already supports. Signature arithmetic is
    portable, so signatures AND pairs hash-match the oracle."""
    # the signature expression is an interpreted higher-order lambda
    # (24 bits × tokens per doc): spread the single-file scan across all
    # cores first, and materialize ONCE so the self-join
    # below doesn't evaluate signatures twice — at sf0.1 this is the
    # difference between ~65 s and ~4 s. At 100 TB: write the signature
    # table to parquet once, then join (same shape).
    h = materialize(
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn(
            "hs", F.expr(f"transform({_SPARK_TOKS}, t -> {tok_hash_expr('t', dialect='spark')})")
        )
        .withColumn("simhash", F.expr(_simhash_expr("spark")))
        .select("doc_id", "lang", "simhash")
    )
    a, b = h.alias("a"), h.alias("b")
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(hamming <= 2)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("simhash_a"),
            F.col("b.simhash").alias("simhash_b"),
            hamming.alias("hamming"),
        )
    )


@query(
    "q71_embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           {cosine_expr("a.embedding", "b.embedding", dialect="duckdb")} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine_expr("a.embedding", "b.embedding", dialect="duckdb")} >= 0.4
    """,
    tags=("dedup", "embedding", "cosine"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cos ≥ 0.4, blocked on `label`
    (the ANN-bucket stand-in) so the join never goes all-pairs. The dot
    product is a zip_with/aggregate higher-order expression — JVM codegen,
    no UDF. At 100 TB the label block is replaced by LSH/IVF bucket ids
    (q76) — the plan shape is identical."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("label"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("label"), F.col("embedding").alias("eb"))
    cos = F.expr(cosine_expr("ea", "eb", dialect="spark"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.4)
        .select("vec_a", "vec_b", "label", "cos_sim")
    )


@query(
    "q173_keeper_longest_doc",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             sha256(lower(trim(text))) AS content_hash
      FROM documents
    ),
    k AS (
      SELECT content_hash,
             -- composite integer key: longest wins, doc_id breaks ties
             -- (n_chars*1e6 + doc_id stays well inside int64)
             max_by(doc_id, n_chars * 1000000 + doc_id) AS keeper_doc_id,
             count(*)::BIGINT AS group_size
      FROM h GROUP BY content_hash
    )
    SELECT h.doc_id, k.keeper_doc_id,
           (h.doc_id = k.keeper_doc_id) AS keep,
           k.group_size
    FROM h JOIN k USING (content_hash)
    """,
    tags=("dedup", "keeper-policy"),
)
def keeper_longest_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup keeper election with the LONGEST-document policy (ties →
    larger doc_id): real pipelines keep the most complete copy, not the
    smallest id — truncated scrapes of the same page lose to the full
    crawl. `max_by` over the (n_chars, doc_id) tuple elects in one
    hash-agg; the per-doc verdict joins back on the content hash. Same
    one-shuffle posture as q67 — only (hash, doc_id, n_chars) move."""
    h = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.sha2(F.lower(F.trim("text")), 256).alias("content_hash"),
    )
    k = h.groupBy("content_hash").agg(
        F.expr("max_by(doc_id, n_chars * 1000000 + doc_id)").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return h.join(k, "content_hash").select(
        "doc_id",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("keep"),
        "group_size",
    )


# q174 split: docs whose id-hash bucket is below the cut are the "already
# indexed" base; the rest are the delta whose signatures arrive fresh
_SIG_BASE_HI = 80


@query(
    "q174_incremental_minhash_index",
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
    )
    SELECT doc_id,
           array_to_string(mh, ',') AS signature,
           ({tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")} % 100 < {_SIG_BASE_HI})
             AS from_base
    FROM mh
    """,
    tags=("dedup", "minhash", "incremental", "index-maintenance"),
)
def incremental_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-index maintenance: the minhash signature store is
    maintained like q160's aggregates — signatures for the base split are
    'already stored' (computed from base docs only), the delta split's
    signatures are computed fresh, and their union must hash-match the
    oracle's full recompute over every document. Signatures are pure
    per-doc functions, so index maintenance is embarrassingly delta-only:
    at 100 TB a daily crawl increment re-signs only new documents, and
    the LSH band tables (q69) rebuild from the signature store without
    touching text. The split uses the same portable id-hash as q91/q137,
    so the 'incremental' boundary composes with the pipeline's splits."""
    bucket = F.expr(
        f"{tok_hash_expr('CAST(doc_id AS STRING)', dialect='spark')} % 100"
    )
    sigs = (
        _shingle_sets(spark, sf_dir)
        .withColumn(
            "hs",
            F.expr(
                f"transform(shs, s -> {tok_hash_expr('s', dialect='spark')})"
            ),
        )
        .select(
            "doc_id",
            F.array_join(F.expr(_minhash_expr("spark")), ",").alias("signature"),
            (bucket < _SIG_BASE_HI).alias("from_base"),
        )
    )
    base = sigs.filter(F.col("from_base"))      # the stored index
    delta = sigs.filter(~F.col("from_base"))    # fresh arrivals, re-signed
    return base.unionByName(delta)


@query(
    "q192_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, {_DUCK_SHINGLES} AS shs
      FROM (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    postings AS (SELECT doc_id, lang, unnest(shs) AS sh FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM postings a JOIN postings b
        ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common::DOUBLE / least(len(sa.shs), len(sb.shs)), 6)
             AS containment,
           CASE WHEN len(sa.shs) <= len(sb.shs) THEN doc_a ELSE doc_b END
             AS contained_doc
    FROM common
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
    WHERE n_common::DOUBLE / least(len(sa.shs), len(sb.shs)) >= 0.6
    """,
    tags=("dedup", "containment", "ngram"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ 0.6 — the
    asymmetric measure that catches quotes, excerpts, and near-SUPERSETS
    that Jaccard misses (a paragraph fully quoted inside a 10× longer doc
    has tiny Jaccard but containment ≈ 1; both docs survive q68 yet the
    smaller adds no new text). Reuses q68's machinery wholesale: the
    DF-capped inverted-index join computes intersections, only the
    normalizer changes — min instead of union — so the scale posture is
    identical (no pair materializes without a shared shingle, hot
    shingles capped). Reports which doc is the contained one."""
    sh = _shingle_sets(spark, sf_dir).select("doc_id", "lang", "shs")
    postings = capped_postings(
        sh.select("doc_id", "lang", F.explode("shs").alias("sh"))
    )
    a, b = postings.alias("a"), postings.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.size("shs").alias("na"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.size("shs").alias("nb"))
    cont = F.col("n_common") / F.least("na", "nb")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= 0.6)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
    )


_PF_TAU = 0.6  # Jaccard threshold for the prefix-filtered join


def _pf_prefix_postings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """q215's inputs: the materialized shingle-set table `docs` (doc_id, toks,
    n) and the rarest-first prefix postings `ranked` (doc_id, n, rn, tok),
    where `rn` is the token's 1-based position in the doc's FULL
    global-df-ascending token order — carried through the candidate join so
    the positional (PPJoin) filter can bound the achievable overlap."""
    # build shingles from MATERIALIZED token arrays: deriving them inline
    # would let CollapseProject inline the tokenizer into every lambda
    # reference of `toks` inside the shingle transform — measured 4.5× on
    # the whole query at sf0.1
    from kinesis_customer_sample_spark.queries.text_analysis import _docs_with_tokens

    toks = materialize(
        _docs_with_tokens(spark, sf_dir)
        .filter(F.size("toks") >= 3)
        .select("doc_id", "toks")
    )
    docs = materialize(
        toks.select("doc_id", F.expr(_SPARK_SHINGLES).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    postings = docs.select("doc_id", "n", F.explode("toks").alias("tok"))
    df_tab = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # both sides of the candidate self-join read `ranked`, and the df-join
    # + per-doc ranking window are the second-priciest stage of the plan
    ranked = materialize(
        postings.join(df_tab, "tok")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok")),
        )
        # prefix length n − ⌈τ·n⌉ + 1
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(_PF_TAU) * F.col("n")) + 1)
        .select("doc_id", "n", "rn", "tok")
    )
    return docs, ranked


def _pf_candidates(ranked: DataFrame, positional: bool = True) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the prefix-postings self-join.

    With `positional=True` (the production path) two LOSSLESS prunes run
    before the exact verify:
    - length filter, in the join condition: Jaccard ≥ τ forces
      τ·nb ≤ na and τ·na ≤ nb, so mismatched-size pairs never leave the
      join;
    - positional (PPJoin) filter: both token arrays are sorted in the SAME
      global rarest-first order, so for the FIRST common token — at
      1-based positions (ra, rb) — every other common token sorts after it
      in both arrays, bounding total overlap by 1 + min(na−ra, nb−rb).
      Jaccard ≥ τ needs overlap ≥ ⌈τ·(na+nb)/(1+τ)⌉; pairs whose bound
      falls short are dropped. Because the first common token minimizes
      both positions, it MAXIMIZES the bound, so `max(ub) < α` is exactly
      the first-token test — the groupBy replaces the old `.distinct()`
      (same single shuffle) and the filter rides it for free.
    The 1e-9 slacks absorb float rounding at exact-threshold boundaries in
    the keep direction — extra candidates are verified away; pruning a
    valid pair would be a correctness bug."""
    a, b = ranked.alias("a"), ranked.alias("b")
    cond = (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    if not positional:
        return (
            a.join(b, cond)
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    cond = (
        cond
        & (F.col("a.n") >= _PF_TAU * F.col("b.n") - 1e-9)
        & (F.col("b.n") >= _PF_TAU * F.col("a.n") - 1e-9)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            (
                1 + F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn"))
            ).alias("ub"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("ub").alias("ub_max"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.col("ub_max")
            >= F.ceil(
                F.lit(_PF_TAU / (1.0 + _PF_TAU)) * (F.col("na") + F.col("nb")) - 1e-9
            )
        )
        .select("doc_a", "doc_b")
    )


@query(
    "q215_prefix_filter_jaccard",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS toks
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    sized AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
    postings AS (SELECT doc_id, n, unnest(toks) AS tok FROM sized),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_common, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM postings a JOIN postings b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common::DOUBLE / (na + nb - n_common), 6) AS jaccard
    FROM common
    WHERE n_common::DOUBLE / (na + nb - n_common) >= {_PF_TAU}
    """,
    tags=("dedup", "jaccard", "prefix-filter"),
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (the AllPairs/PPJoin
    candidate generator): two token sets with Jaccard ≥ τ must share at
    least one token among each set's (n − ⌈τ·n⌉ + 1) RAREST tokens
    (global-df-ascending order) — so only prefix postings self-join,
    roughly a (1 − τ) fraction of the full postings volume q68-style
    full-postings joins would shuffle, and the rarest-first ordering makes
    those postings the SHORTEST lists (prefix buckets are the cold keys by
    construction, the opposite of the hot-shingle problem the DF cap
    exists for). Candidates are then verified exactly: join back each
    side's full distinct-token array (array_intersect — per-doc arrays,
    bounded by document length) and keep Jaccard ≥ τ. Between prefix
    match and verify, the length filter and the positional (PPJoin)
    overlap upper-bound prune the candidate set further — both lossless
    (see _pf_candidates), so the oracle is still the plain exact
    all-pairs join. Uses the q68 3-token shingle sets, so this and q68
    are two candidate generators for the SAME resemblance definition —
    prefix postings here, DF-capped full postings there.

    The shingle-set table is materialized: it feeds THREE consumers
    (postings for ranking, and both verify sides), and the interpreted
    shingle lambdas are the expensive part of the plan — materializing
    |docs| rows once beats re-deriving them per consumer AND per exploded
    output row (measured 3×+ on the bench; the same
    materialize-the-signatures decision as q69)."""
    docs, ranked = _pf_prefix_postings(spark, sf_dir)
    cand = _pf_candidates(ranked, positional=True)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("n").alias("na"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("n").alias("nb"))
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("toks_a", "toks_b")))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return verified.filter(jac >= _PF_TAU).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@query(
    "q338_cross_source_leakage_matrix",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS shs
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    mh AS (
      SELECT doc_id, shs, {_minhash_expr("duckdb")} AS mh
      FROM (SELECT doc_id, shs,
                   list_transform(shs, s -> {tok_hash_expr("s", dialect="duckdb")}) AS hs
            FROM sh)
    ),
    bands AS (
      SELECT doc_id, mh, shs, b, {_band_hash("duckdb")} AS bh
      FROM (SELECT doc_id, mh, shs, unnest([0, 1, 2, 3]) AS b FROM mh)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN mh ma ON ma.doc_id = doc_a
      JOIN mh mb ON mb.doc_id = doc_b
      WHERE len(list_intersect(ma.shs, mb.shs))::DOUBLE
            / (len(ma.shs) + len(mb.shs) - len(list_intersect(ma.shs, mb.shs)))
            >= 0.5
    )
    SELECT least(da.source, db.source)    AS source_lo,
           greatest(da.source, db.source) AS source_hi,
           count(*)::BIGINT               AS n_pairs,
           sum(CASE WHEN da.source = db.source THEN 1 ELSE 0 END)::BIGINT
             AS n_within
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.doc_a
    JOIN documents db ON db.doc_id = pairs.doc_b
    GROUP BY 1, 2
    """,
    tags=("dedup", "leakage", "provenance", "minhash", "data-card"),
)
def cross_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate leakage matrix: q69's verified
    MinHash-LSH pair set rolled up by the UNORDERED source pair — which
    crawls/feeds overlap, the provenance question behind both dedup
    budgeting (within-source pairs are re-crawls; cross-source pairs are
    syndication/mirroring) and eval hygiene (a benchmark source leaking
    into a train source shows up as an off-diagonal cell). Builds the
    q69 pair set (minhash_lsh_pairs) behind a `materialize` barrier,
    then joins each side's source and normalizes the pair with
    least/greatest so the matrix is triangular.

    Scale posture: inherits q69's bucket-blocked candidate generation
    (never all-pairs). The rollup adds two doc_id-keyed joins against a
    two-column projection of documents and one grid-sized agg."""
    pairs = materialize(
        minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_within"),
        )
    )


# sparse-cosine join dials: terms appearing in more than this many docs are
# pruned from the index (their idf weight is near zero anyway — classic
# stopword pruning for similarity joins), and the near-dup cut in percent
_SC_DF_CAP = 96
_SC_TAU_PCT = 25  # cos ≥ 0.25  ⇔  10000·dot² ≥ 25²·‖a‖²·‖b‖²
_SC_TOPK = 20


@query(
    "q360_sparse_cosine_join",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1
           HAVING count(*) <= {_SC_DF_CAP}),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * floor((ln(n.n_docs) - ln(df.df)) * 1000)::BIGINT AS w
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    norm AS (SELECT doc_id, sum(w * w)::BIGINT AS n2 FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w)::BIGINT AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dot,
           (10000 * CAST(dot AS HUGEINT) * dot
              >= {_SC_TAU_PCT * _SC_TAU_PCT}
                 * CAST(na.n2 AS HUGEINT) * nb.n2)  AS near
    FROM dots
    JOIN norm na ON na.doc_id = doc_a
    JOIN norm nb ON nb.doc_id = doc_b
    ORDER BY dot DESC, doc_a, doc_b
    LIMIT {_SC_TOPK}
    """,
    tags=("llm", "dedup", "similarity-join", "tfidf"),
)
def sparse_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs join — the inverted-index similarity
    join (DISCO / ClusterJoin lineage) that complements q215's set-overlap
    Jaccard: documents as sparse TF-IDF vectors, candidate pairs generated
    ONLY through shared index terms, dot products accumulated by a hash
    agg over the postings join, and the cosine threshold decided in exact
    integer arithmetic — cos ≥ τ ⇔ 10⁴·dot² ≥ τ²·‖a‖²·‖b‖² with the
    squares in decimal-128, so no float sqrt ever runs. IDF is floored to
    integer milli-units per distinct df (the q151 log discipline).

    Scale posture (100 TB): the df-cap (≤{_SC_DF_CAP} docs) is the scale
    lever — it bounds every posting list, so candidate volume is
    Σ_term df² ≤ cap · Σ df (linear in corpus), the exact hot-key
    discipline q69/q215 use (DF_CAP there). Weights/norms are
    vocabulary- and corpus-sized hash aggs; the pair agg shuffles on
    (doc_a, doc_b) with map-side combine; final top-k is
    TakeOrderedAndProject, never a global sort."""
    tok = _docs_with_tokens(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _SC_DF_CAP)
    )
    n = F.broadcast(
        table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # Materialized: the weight table feeds three exchanges
    # — by tok twice for the postings self-join (ReuseExchange shares
    # those) and by doc_id for the norms, which is a DIFFERENT
    # partitioning and re-derived the tf⋈df chain at runtime. The barrier
    # computes w once for all three: 2.08/1.62 → 0.98/1.06 s paired
    # min-of-3 at sf0.1.
    w = materialize(
        tf.join(df, "tok")
        .crossJoin(n)
        .select(
            "doc_id",
            "tok",
            F.expr(
                "tf * CAST(floor((ln(n_docs) - ln(df)) * 1000) AS BIGINT)"
            ).alias("w"),
        )
    )
    norm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    tau2 = _SC_TAU_PCT * _SC_TAU_PCT
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.expr(
                f"10000 * CAST(dot AS DECIMAL(38, 0)) * dot "
                f">= {tau2} * CAST(na2 AS DECIMAL(38, 0)) * nb2"
            ).alias("near"),
        )
        .orderBy(F.desc("dot"), "doc_a", "doc_b")
        .limit(_SC_TOPK)
    )


# ---- q492: MinHash estimator accuracy audit ---------------------------------


def _minhash_audit_oracle() -> str:
    """q492's oracle splices q69's REGISTERED oracle verbatim (the
    q409/q400 registry-splice pattern) so the audited estimator can never
    drift from the estimator being shipped."""
    from kinesis_customer_sample_spark.registry import REGISTRY

    q69 = REGISTRY["q69_minhash_lsh_pairs"].oracle
    return f"""
    WITH pairs AS ({q69}),
    errs AS (
      SELECT abs(CAST(round(est_jaccard * 10000) AS BIGINT)
                 - CAST(round(jaccard * 10000) AS BIGINT)) AS err_bp
      FROM pairs
    )
    SELECT (err_bp // 250)::BIGINT AS err_bucket,
           count(*)::BIGINT AS n_pairs,
           max(err_bp)::BIGINT AS max_err_bp,
           (sum(err_bp) // count(*))::BIGINT AS mean_err_bp
    FROM errs GROUP BY 1 ORDER BY 1
    """


@query(
    "q492_minhash_accuracy_audit",
    oracle=_minhash_audit_oracle(),
    tags=("dedup", "minhash", "audit", "estimator"),
)
def minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy audit — the self-certifying check a
    dedup platform publishes next to its index: over q69's verified
    near-duplicate pairs, how far is the 16-permutation signature
    estimate (matching-component fraction) from the exact shingle
    Jaccard? Emits the error histogram in 2.5%-wide buckets with max and
    mean error per bucket. The binomial theory says stddev ~
    sqrt(J(1-J)/16) ~ 0.12 at J = 0.5 — a bucket mass drifting past
    that flags a broken permutation family long before recall visibly
    degrades (the q488 estimator-audit discipline, applied to LSH).

    Determinism: est_jaccard is an exact multiple of 1/16 and exact
    Jaccard an exact rational, both rounded to 6 dp upstream in q69;
    the audit re-quantizes to integer basis points and every histogram
    statistic is exact int64.

    Scale posture (100 TB): consumes q69's pair output (bucket-blocked,
    never all-pairs) and reduces it with one map-side-combined hash-agg
    to an <= 40-row histogram. The estimator and the audit share one
    code path by construction (registry splice)."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    errs = pairs.select(
        F.expr(
            "abs(CAST(round(est_jaccard * 10000) AS BIGINT)"
            " - CAST(round(jaccard * 10000) AS BIGINT))"
        ).alias("err_bp")
    )
    return (
        errs.groupBy(F.expr("err_bp div 250").cast("bigint").alias("err_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.max("err_bp").cast("bigint").alias("max_err_bp"),
            F.expr("sum(err_bp) div count(1)").cast("bigint").alias("mean_err_bp"),
        )
        .orderBy("err_bucket")
    )


# ---- q493: LSH (bands x rows) parameter planner -----------------------------
_LSH_COMBOS = ((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
_LSH_TAU_BP = 6000     # design threshold (q215's tau = 0.6)
_LSH_RECALL_MU = 900_000  # required collision probability at tau: 0.9


def _pow_chain(x: str, n: int) -> str:
    """Unrolled x^n as a parenthesized multiply chain via repeated
    squaring — the SAME literal text runs in both engines, so the IEEE
    sequence (and therefore the floored micro-units) cannot diverge the
    way a libm pow() could."""
    if n == 1:
        return x
    half = _pow_chain(x, n // 2)
    sq = f"({half} * {half})"
    return f"({sq} * {x})" if n % 2 else sq


def _lsh_planner_sql() -> str:
    legs = []
    for b, r in _LSH_COMBOS:
        # CAST to DOUBLE first: a bare `s_bp / 10000.0` is DECIMAL division
        # in DuckDB (the q454 DECIMAL-literal trap) but double in Spark
        s = "(CAST(s_bp AS DOUBLE) / 10000.0)"
        p_r = _pow_chain(s, r)               # s^r
        miss = f"(1.0 - {p_r})"
        p = f"(1.0 - {_pow_chain(miss, b)})"  # 1 - (1-s^r)^b
        legs.append(
            f"SELECT s_bp, {b} AS bands, {r} AS rows_per_band, "
            f"CAST(floor({p} * 1000000.0) AS BIGINT) AS p_micro FROM grid"
        )
    return " UNION ALL ".join(legs)


@query(
    "q493_lsh_parameter_planner",
    oracle=f"""
    WITH grid AS (
      SELECT unnest(range(1, 20))::BIGINT * 500 AS s_bp
    ),
    curve AS ({_lsh_planner_sql()}),
    at_tau AS (
      SELECT bands, rows_per_band,
             max(CASE WHEN s_bp = {_LSH_TAU_BP} THEN p_micro END)::BIGINT
               AS p_at_tau_micro
      FROM curve GROUP BY bands, rows_per_band
    ),
    ranked AS (
      SELECT bands, rows_per_band, p_at_tau_micro,
             CASE WHEN p_at_tau_micro >= {_LSH_RECALL_MU} THEN
               row_number() OVER (
                 PARTITION BY CASE WHEN p_at_tau_micro >= {_LSH_RECALL_MU}
                              THEN 1 ELSE 0 END
                 ORDER BY bands, rows_per_band)
             ELSE 0 END AS pick
      FROM at_tau
    )
    SELECT c.s_bp, c.bands::BIGINT AS bands,
           c.rows_per_band::BIGINT AS rows_per_band, c.p_micro,
           r.p_at_tau_micro,
           (CASE WHEN r.pick = 1 THEN 1 ELSE 0 END)::BIGINT AS recommended
    FROM curve c
    JOIN ranked r ON r.bands = c.bands AND r.rows_per_band = c.rows_per_band
    ORDER BY c.bands, c.s_bp
    """,
    tags=("dedup", "lsh", "planner", "advisor"),
)
def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands x rows) parameter planner — the S-curve designer behind
    q69/q303's 4x4 choice: for every factorization of the 16-component
    signature, the collision probability 1 - (1 - s^r)^b over the
    similarity grid s = 0.05..0.95, the value at the design threshold
    tau = 0.6, and the recommendation (fewest bands — fewest index
    copies — among combos whose recall at tau is >= 0.9). More bands
    catch more low-similarity noise (cost); more rows sharpen the
    threshold (risk of missing true pairs) — this emits the whole
    trade-off surface an index operator reviews before resharding.

    Determinism: powers are UNROLLED repeated-squaring multiply chains
    (shared literal text, never libm pow, whose rounding is not
    IEEE-pinned); the probability is floor-quantized to micro-units; the
    recommendation is integer rank logic on the 5-row summary.

    Scale posture: pure grid math — 19 similarity points x 5 combos; no
    table scan at all. The planner runs once per index deployment."""
    grid = spark.range(1, 20).select((F.col("id") * 500).cast("bigint").alias("s_bp"))
    grid.createOrReplaceTempView("grid")
    curve = spark.sql(f"WITH grid AS (SELECT * FROM grid) {_lsh_planner_sql()}")
    at_tau = curve.groupBy("bands", "rows_per_band").agg(
        F.max(
            F.expr(f"CASE WHEN s_bp = {_LSH_TAU_BP} THEN p_micro END")
        )
        .cast("bigint")
        .alias("p_at_tau_micro")
    )
    ranked = at_tau.select(
        "bands",
        "rows_per_band",
        "p_at_tau_micro",
        F.expr(
            f"CASE WHEN p_at_tau_micro >= {_LSH_RECALL_MU} THEN "
            f"row_number() OVER ("
            f"  PARTITION BY CASE WHEN p_at_tau_micro >= {_LSH_RECALL_MU} THEN 1 ELSE 0 END"
            f"  ORDER BY bands, rows_per_band) ELSE 0 END"
        ).alias("pick"),
    )
    return (
        curve.join(F.broadcast(ranked), ["bands", "rows_per_band"])
        .select(
            "s_bp",
            F.col("bands").cast("bigint").alias("bands"),
            F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
            "p_micro",
            "p_at_tau_micro",
            F.expr("CASE WHEN pick = 1 THEN 1 ELSE 0 END")
            .cast("bigint")
            .alias("recommended"),
        )
        .orderBy("bands", "s_bp")
    )


# ---- q513: near-dup ensemble Venn audit ----------------------------------------


def _dedup_venn_oracle() -> str:
    """q513's oracle splices the three REGISTERED pair-finder oracles
    (q68 exact-Jaccard, q69 MinHash-LSH, q70 SimHash) verbatim — the
    q409/q492 registry-splice pattern — so the audited finders can never
    drift from the ones shipped."""
    from kinesis_customer_sample_spark.registry import REGISTRY

    q68 = REGISTRY["q68_ngram_jaccard_pairs"].oracle
    q69 = REGISTRY["q69_minhash_lsh_pairs"].oracle
    q70 = REGISTRY["q70_simhash_pairs"].oracle
    return f"""
    WITH exact_p AS (SELECT doc_a, doc_b FROM ({q68})),
    minhash_p AS (SELECT doc_a, doc_b FROM ({q69})),
    simhash_p AS (SELECT doc_a, doc_b FROM ({q70})),
    all_p AS (
      SELECT doc_a, doc_b FROM exact_p
      UNION SELECT doc_a, doc_b FROM minhash_p
      UNION SELECT doc_a, doc_b FROM simhash_p
    ),
    flagged AS (
      SELECT a.doc_a, a.doc_b,
             CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
             CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_minhash,
             CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_simhash
      FROM all_p a
      LEFT JOIN exact_p e ON e.doc_a = a.doc_a AND e.doc_b = a.doc_b
      LEFT JOIN minhash_p m ON m.doc_a = a.doc_a AND m.doc_b = a.doc_b
      LEFT JOIN simhash_p s ON s.doc_a = a.doc_a AND s.doc_b = a.doc_b
    )
    SELECT in_exact, in_minhash, in_simhash,
           count(*)::BIGINT AS n_pairs
    FROM flagged
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """


@query(
    "q513_dedup_ensemble_venn",
    oracle=_dedup_venn_oracle(),
    tags=("dedup", "ensemble", "venn", "audit"),
)
def dedup_ensemble_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate ensemble Venn audit — the capstone comparison of
    the three shipped pair finders on the same corpus: exact n-gram
    Jaccard (q68, the truth at tau = 0.5), MinHash-LSH (q69, the
    sketch), and SimHash (q70, the bitwise sketch). Each discovered
    pair is placed in its Venn region; the region counts ARE the
    operating characteristics — exact-only mass is the sketches' missed
    recall, sketch-only mass is their different similarity notion
    (SimHash weights term frequency; Jaccard does not). This is how a
    dedup platform decides which tier to trust at which threshold
    (the q492 estimator-audit discipline raised to the whole family).

    Determinism: every leg is the registered finder verbatim (registry
    splice on the oracle side, direct function composition on the Spark
    side); region assignment is exact key joins; counts are int64.

    Scale posture (100 TB): each finder is already blocked/bucketed
    (lang blocks, LSH bands, signature chunks); the Venn overlay is
    three equi-joins on normalized (doc_a, doc_b) keys over pair sets
    that are tiny relative to the corpus."""
    exact_p = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    minhash_p = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    simhash_p = simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    all_p = (
        exact_p.unionByName(minhash_p).unionByName(simhash_p).distinct()
    )
    flagged = (
        all_p.join(
            exact_p.withColumn("in_exact", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .join(
            minhash_p.withColumn("in_minhash", F.lit(1)),
            ["doc_a", "doc_b"],
            "left",
        )
        .join(
            simhash_p.withColumn("in_simhash", F.lit(1)),
            ["doc_a", "doc_b"],
            "left",
        )
        .select(
            F.coalesce("in_exact", F.lit(0)).alias("in_exact"),
            F.coalesce("in_minhash", F.lit(0)).alias("in_minhash"),
            F.coalesce("in_simhash", F.lit(0)).alias("in_simhash"),
        )
    )
    return (
        flagged.groupBy("in_exact", "in_minhash", "in_simhash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("in_exact", "in_minhash", "in_simhash")
    )
