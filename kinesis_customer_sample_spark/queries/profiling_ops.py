"""Corpus/warehouse profiling operators — round-3 wave (SURVEY.md §2B):
n-gram duplication rate (the corpus-level "how much of each document is
boilerplate" signal), positional chunk mean-pooling over embeddings,
shuffle-key skew auditing, and mergeable-histogram quantile estimation.

Scale posture (100 TB):
- q207: postings explode → DF hash-agg (map-side combined) → join back on
  the shingle key → per-doc agg. Two shuffles, both on high-cardinality
  keys; the shingle DF table never broadcasts (it is corpus-sized) and no
  pair join exists at all — this is the linear-cost cousin of q68.
- q208: posexplode multiplies rows ×dim, but partial aggregation reduces
  each (chunk, pos) cell before the exchange, so the shuffle carries
  |chunks|·dim cells regardless of corpus size. For small fixed chunks an
  `aggregate(zip_with(...))` fold avoids the explode entirely; the explode
  form is kept because it stays linear when chunks are unbounded.
- q209: per-key counts (one hash-agg) reduce to ONE summary row via exact
  `percentile` aggregates — fine while |distinct keys| fits a reducer
  (millions); at larger cardinalities swap `percentile` for
  `approx_percentile` without changing the output contract. No global
  sort, no global window.
- q211: the sketch IS the scale story — per-shard fixed-width histograms
  (32 bins) merge by summing cell counts (associative + commutative, so
  map-side partial agg does the merge), and quantiles are read off the
  merged CDF. Every post-scan operator touches ≤ 32·|shards| rows; the
  window that cumulates the CDF runs over exactly 32 rows by construction
  (sketch size, not data size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.text_analysis import _DUCK_TOKS, _SPARK_TOKS
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# 5-token shingles (distinct), per dialect — same normalization as q60/q68
_N = 5
_SPARK_SH5 = (
    f"array_distinct(transform(sequence(1, size(toks) - {_N - 1}), "
    f"i -> concat_ws(' ', slice(toks, i, {_N}))))"
)
_DUCK_SH5 = (
    f"list_distinct([array_to_string(toks[i:i+{_N - 1}], ' ') "
    f"for i in range(1, len(toks) - {_N - 2})])"
)


@query(
    "q207_ngram_dup_rate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_DUCK_SH5} AS shs
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= {_N}
    ),
    postings AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
    df AS (SELECT sh, count(*) AS df FROM postings GROUP BY sh)
    SELECT p.doc_id,
           count(*)::BIGINT                                   AS n_shingles,
           count(*) FILTER (WHERE df.df >= 2)::BIGINT         AS n_dup,
           (count(*) FILTER (WHERE df.df >= 2) * 10000
              // count(*))::BIGINT                            AS dup_rate_bp
    FROM postings p JOIN df ON p.sh = df.sh
    GROUP BY p.doc_id
    """,
    tags=("text", "dedup", "profiling"),
)
def ngram_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram duplication rate: the fraction of a document's
    distinct 5-token shingles that occur in at least one OTHER document
    (df ≥ 2; shingles are distinct per doc, so df counts documents) — the
    standard "how duplicated is this doc" curation signal, and the
    linear-cost alternative to pairwise dedup: no document pair is ever
    formed, only shingle document-frequencies. Rate emitted in integer
    basis points (floor division) so no float crosses the oracle."""
    # materialize the computed shingle arrays BEFORE the explode: Generate over
    # an inline lambda column re-evaluates the chain many times per row
    # (the barrier rationale in text_analysis._docs_with_tokens), and the
    # postings feed two consumers (DF agg + join-back) — measured ~4× on
    # the bench
    docs = materialize(
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", F.expr(_SPARK_TOKS))
        .filter(F.size("toks") >= _N)
        .select("doc_id", F.expr(_SPARK_SH5).alias("shs"))
    )
    postings = docs.select("doc_id", F.explode("shs").alias("sh"))
    df_tab = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    n_dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        postings.join(df_tab, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            n_dup.alias("n_dup"),
            F.expr(
                "CAST(sum(IF(df >= 2, 1, 0)) * 10000 div count(1) AS BIGINT)"
            ).alias("dup_rate_bp"),
        )
    )


@query(
    "q208_chunk_mean_pooling",
    oracle="""
    SELECT chunk_id, pos,
           count(*)::BIGINT        AS n_vecs,
           round(avg(v), 6)        AS mean_val
    FROM (
      SELECT vec_id // 8                           AS chunk_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)                     AS v
      FROM embeddings
    )
    GROUP BY 1, 2
    """,
    tags=("similarity", "pooling", "multimodal"),
)
def chunk_mean_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional mean-pooling of consecutive embedding chunks (8 vectors
    per chunk — the token-embeddings→segment-embedding reduction every
    retrieval pipeline runs before indexing). Shape: posexplode the vector
    to (chunk, dim-position) cells, hash-aggregate the mean per cell —
    partial agg collapses cells map-side, so the exchange carries
    |chunks|·dim rows however large the corpus. Contrast with q84, which
    pools per LABEL via a pandas UDAF: this is the pure-codegen positional
    form with a derived integer chunk key."""
    emb = table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    cells = emb.select(
        (F.col("vec_id") / 8).cast("bigint").alias("chunk_id"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    return cells.groupBy("chunk_id", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("v"), 6).alias("mean_val"),
    )


@query(
    "q209_key_skew_audit",
    oracle="""
    WITH per_key AS (
      SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY user_id
    )
    SELECT count(*)::BIGINT                              AS n_keys,
           sum(c)::BIGINT                                AS n_rows,
           max(c)::BIGINT                                AS max_key_rows,
           round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY c), 4) AS p50,
           round(percentile_cont(0.9)  WITHIN GROUP (ORDER BY c), 4) AS p90,
           round(percentile_cont(0.99) WITHIN GROUP (ORDER BY c), 4) AS p99,
           (max(c) * 10000 // sum(c))::BIGINT            AS top1_share_bp
    FROM per_key
    """,
    tags=("profiling", "skew", "aggregation"),
)
def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit for a prospective join/agg key (events.user_id):
    the distribution OF per-key row counts — key cardinality, hottest key,
    exact interpolated p50/p90/p99 of key sizes, and the hottest key's
    share in basis points. This is the diagnostic you run BEFORE deciding
    whether a key needs salting (q86/q129 are the treatments; this is the
    triage). Exact `percentile` is an aggregate, not a global sort/window;
    at extreme key cardinality substitute approx_percentile — the report
    schema is unchanged."""
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_key_rows"),
        F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(c, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(c, 0.99)"), 4).alias("p99"),
        F.expr("CAST(max(c) * 10000 div sum(c) AS BIGINT)").alias("top1_share_bp"),
    )


_BIN_W = 16
_N_BINS = 32
_QUANTILES = (5000, 9500, 9900)  # basis points


@query(
    "q211_histogram_merge_quantiles",
    oracle=f"""
    WITH partials AS (
      SELECT event_type,
             least({_N_BINS - 1}, greatest(0, floor(value / {_BIN_W})::BIGINT)) AS bin,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ),
    merged AS (SELECT bin, sum(c)::BIGINT AS n FROM partials GROUP BY bin),
    cdf AS (
      SELECT bin, n,
             sum(n) OVER (ORDER BY bin)::BIGINT AS cum_n,
             (SELECT sum(n) FROM merged)::BIGINT AS total
      FROM merged
    )
    SELECT q.q_bp,
           min(cdf.bin)::BIGINT                       AS est_bin,
           min((cdf.bin + 1) * {_BIN_W})::BIGINT      AS est_upper_edge,
           min(cdf.total)::BIGINT                     AS total_n
    FROM (SELECT unnest([{", ".join(str(q) for q in _QUANTILES)}]) AS q_bp) q
    JOIN cdf ON cdf.cum_n * 10000 >= q.q_bp * cdf.total
    GROUP BY q.q_bp
    """,
    tags=("profiling", "sketch", "quantile"),
)
def histogram_merge_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a MERGEABLE fixed-width histogram sketch:
    per-shard (event_type) 32-bin histograms merge by summing cell counts —
    associativity is the split-invariance guarantee (merge(partials) ==
    histogram(whole), exactly, by construction) — then p50/p95/p99 are read
    off the merged CDF as the first bin whose cumulative count reaches the
    target rank (compared in integer cross-multiplied form, no division).
    The estimate is deterministic (bin upper edge), unlike a sampling
    sketch, so it is hash-checkable. All post-scan state is ≤ 32·|shards|
    rows; the CDF window cumulates exactly 32 rows by construction."""
    ev = table(spark, sf_dir, "events")
    partials = ev.groupBy(
        "event_type",
        F.least(
            F.lit(_N_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / _BIN_W).cast("bigint")),
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("c"))
    merged = partials.groupBy("bin").agg(F.sum("c").alias("n"))
    from pyspark.sql import Window as W

    # 32-row window by construction (sketch cells), not a data-sized sort
    cdf = merged.select(
        "bin",
        "n",
        F.sum("n").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)).alias("cum_n"),
    ).crossJoin(merged.agg(F.sum("n").alias("total")))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _QUANTILES])).alias("q_bp")
    )
    hit = qs.join(cdf, F.col("cum_n") * 10000 >= F.col("q_bp") * F.col("total"))
    return hit.groupBy("q_bp").agg(
        F.min("bin").alias("est_bin"),
        F.min((F.col("bin") + 1) * _BIN_W).alias("est_upper_edge"),
        F.min("total").alias("total_n"),
    )


_KANON_K = 3


@query(
    "q284_k_anonymity_audit",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, (n_chars // 100)::BIGINT AS size_bucket,
             count(*)::BIGINT AS n
      FROM documents
      GROUP BY 1, 2, 3
    )
    SELECT lang, source, size_bucket, n,
           (n >= {_KANON_K}) AS k_anonymous,
           round(1.0 / n, 6) AS reident_risk
    FROM cells
    """,
    tags=("governance", "privacy", "k-anonymity"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the quasi-identifier tuple (lang, source,
    length bucket): every equivalence class with fewer than k=3 members
    is a re-identification risk — the privacy gate a dataset must pass
    before release, complementing q139's PII redaction (which removes
    direct identifiers; this measures what the REMAINING attributes still
    leak). One hash-agg to the QI cells (map-side combined), a map-side
    flag, and the 1/n worst-case link probability per cell. Generalizing
    a failing dimension (coarser buckets) and re-running IS the
    anonymization loop. At 100 TB the cell table is the product of QI
    cardinalities — the operator's honest output size."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy(
        "lang",
        "source",
        F.expr("n_chars div 100").cast("bigint").alias("size_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return cells.select(
        "lang",
        "source",
        "size_bucket",
        "n",
        (F.col("n") >= _KANON_K).alias("k_anonymous"),
        F.round(F.lit(1.0) / F.col("n"), 6).alias("reident_risk"),
    )


_RR_MULT = 2654435761  # portable multiplicative hash (q319's constant)
_RR_MOD = 4294967296
_RR_FLIP_PCT = 25  # flip probability 25% → eps = ln((1-p)/p) = ln 3


@query(
    "q326_randomized_response_counts",
    oracle=f"""
    WITH truth AS (
      SELECT user_id,
             user_id % 10 AS cohort,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY user_id
    ),
    reported AS (
      SELECT cohort, b,
             CASE WHEN (user_id * {_RR_MULT}) % {_RR_MOD} % 100 < {_RR_FLIP_PCT}
                  THEN 1 - b ELSE b END AS rb
      FROM truth
    )
    SELECT cohort::BIGINT AS cohort,
           count(*)::BIGINT AS n_users,
           sum(rb)::BIGINT AS reported_pos,
           sum(b)::BIGINT AS true_pos,
           (greatest(sum(rb) * 10000 - {_RR_FLIP_PCT} * 100 * count(*), 0)
              // (100 - 2 * {_RR_FLIP_PCT}))::BIGINT AS debiased_bp
    FROM reported GROUP BY cohort
    """,
    tags=("privacy", "differential-privacy", "randomized-response"),
)
def randomized_response_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-response private counting (Warner's mechanism, the
    local-DP primitive behind RAPPOR): each user's true bit ("ever
    purchased") is flipped with probability p=25% before aggregation —
    ε = ln((1−p)/p) = ln 3 local differential privacy — and the
    aggregate is debiased as (reported − p·n)/(1 − 2p), emitted in
    integer basis points. The "coin" is a portable multiplicative hash
    of the user id, so the mechanism is deterministic and
    oracle-checkable while keeping the exact production dataflow (a
    deployment swaps the hash for client-side randomness; every shuffle
    and aggregate is unchanged — the q78-stub philosophy applied to
    noise). true_pos sits alongside for utility measurement at fixture
    scale; a real release would not compute it.

    Scale posture: one per-user max-agg (keyed on the natural key), one
    10-key rollup — map-side partial both times; the flip is a scalar
    expression. Companion to q284 (k-anonymity audit): that measures
    re-identification risk, this bounds it mechanically."""
    truth = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("b")
        )
        .select("user_id", (F.col("user_id") % 10).alias("cohort"), "b")
    )
    flip = ((F.col("user_id") * _RR_MULT) % _RR_MOD % 100) < _RR_FLIP_PCT
    reported = truth.withColumn(
        "rb", F.when(flip, 1 - F.col("b")).otherwise(F.col("b"))
    )
    denom = 100 - 2 * _RR_FLIP_PCT
    return reported.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("rb").cast("bigint").alias("reported_pos"),
        F.sum("b").cast("bigint").alias("true_pos"),
        # greatest(…, 0): a sampling dip below p·n would make the numerator
        # negative — clamp to 0 on BOTH sides. The clamp guards estimator
        # noise only (a negative debiased rate is meaningless); it is NOT a
        # division-semantics patch: DuckDB `//` truncates toward zero
        # (-7//2 = -3), same as Spark `div`, so the engines agree either way.
        F.expr(
            f"greatest(sum(rb) * 10000 - {_RR_FLIP_PCT} * 100 * count(1), 0) div {denom}"
        )
        .cast("bigint")
        .alias("debiased_bp"),
    ).select(
        F.col("cohort").cast("bigint").alias("cohort"),
        "n_users",
        "reported_pos",
        "true_pos",
        "debiased_bp",
    )


_LDIV_L = 3
_LDIV_H_MU_MIN = 1_098_612  # floor(ln(3)·1e6): entropy-ℓ bar at ℓ = 3


@query(
    "q346_l_diversity_audit",
    oracle=f"""
    WITH vals AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
             (CAST(floor(c_acctbal) AS BIGINT) // 2000)::BIGINT AS sens,
             count(*)::BIGINT AS cnt
      FROM customer
      GROUP BY 1, 2, 3
    ),
    cells AS (
      SELECT nationkey, segment,
             sum(cnt)::BIGINT AS k,
             count(*)::BIGINT AS l_distinct,
             sum(cnt * floor(ln(cnt) * 1000000)::BIGINT)::BIGINT AS sum_clnc_mu
      FROM vals GROUP BY 1, 2
    )
    SELECT nationkey::BIGINT AS nationkey, segment, k, l_distinct,
           (floor(ln(k) * 1000000)::BIGINT - sum_clnc_mu // k)::BIGINT AS h_mu,
           (l_distinct >= {_LDIV_L}) AS distinct_l_ok,
           ((floor(ln(k) * 1000000)::BIGINT - sum_clnc_mu // k)
              >= {_LDIV_H_MU_MIN}) AS entropy_l_ok
    FROM cells
    """,
    tags=("governance", "privacy", "l-diversity", "entropy"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ℓ-diversity audit — the privacy gate k-anonymity (q284) cannot
    provide: a QI cell can be k-anonymous yet leak the SENSITIVE value
    outright when every member shares it (the homogeneity attack). Per
    quasi-identifier cell (nation, segment) over the sensitive
    account-balance band: distinct ℓ-diversity (≥ ℓ distinct sensitive
    values) and entropy ℓ-diversity (H(sensitive|cell) ≥ ln ℓ). The
    entropy uses the repo's integer µ-nat identity H = ln k − Σc·ln(c)/k
    with per-distinct-count log floors (the q180/q151 pattern), so both
    engines produce identical integers.

    Scale posture (100 TB): two cascaded hash aggs — (QI, sensitive)
    value counts first (map-side combined), then QI cells; output is the
    QI-cell grid, the operator's honest size. ln() is evaluated only per
    DISTINCT count value, never per row."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        F.expr("CAST(floor(c_acctbal) AS BIGINT) div 2000").alias("sens"),
    )
    vals = c.groupBy("nationkey", "segment", "sens").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    cells = vals.groupBy("nationkey", "segment").agg(
        F.sum("cnt").cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
        F.sum(F.expr("cnt * CAST(floor(ln(cnt) * 1000000) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_clnc_mu"),
    )
    h_mu = F.expr(
        "CAST(floor(ln(k) * 1000000) AS BIGINT) - sum_clnc_mu div k"
    ).cast("bigint")
    return cells.select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        "segment",
        "k",
        "l_distinct",
        h_mu.alias("h_mu"),
        (F.col("l_distinct") >= _LDIV_L).alias("distinct_l_ok"),
        (h_mu >= _LDIV_H_MU_MIN).alias("entropy_l_ok"),
    )


_ENC_RG = 512  # row-group granularity: l_orderkey div 512, the unit real
# columnar writers choose encodings at (per row group, not per table)

# (column, value expr, width expr) — width in bytes; shared arithmetic,
# dialect-specific only in the date/oct functions
_ENC_SPECS = [
    ("l_returnflag", "l_returnflag", "octet"),
    ("l_linestatus", "l_linestatus", "octet"),
    ("l_quantity", "qty", "8"),
    ("l_suppkey", "l_suppkey", "8"),
    ("l_shipdate", "days", "8"),
]


def _enc_oracle() -> str:
    blocks, finals = [], []
    for name, _, _ in _ENC_SPECS:
        if name == "l_quantity":
            vexpr = "CAST(round(l_quantity) AS BIGINT)"
        elif name == "l_shipdate":
            vexpr = "date_diff('day', DATE '1970-01-01', l_shipdate::DATE)"
        else:
            vexpr = name
        # DuckDB: octet_length is BLOB-only; strlen is the byte length
        wexpr = (
            f"strlen({name})::BIGINT"
            if name in ("l_returnflag", "l_linestatus")
            else "8::BIGINT"
        )
        tag = name.replace("l_", "")
        blocks.append(f"""
    b_{tag} AS (
      SELECT l_orderkey // {_ENC_RG} AS rg, l_orderkey AS ok,
             l_linenumber AS ln, {vexpr} AS v, {wexpr} AS w
      FROM lineitem
    ),
    r_{tag} AS (
      SELECT CASE WHEN lag(v) OVER (PARTITION BY rg ORDER BY ok, ln, v)
                       IS DISTINCT FROM v THEN 1 ELSE 0 END AS br, w
      FROM b_{tag}
    ),
    s_{tag} AS (
      SELECT count(*)::BIGINT AS n, sum(w)::BIGINT AS width_sum,
             sum(br)::BIGINT AS runs
      FROM r_{tag}
    ),
    d_{tag} AS (
      SELECT count(*)::BIGINT AS d, sum(w)::BIGINT AS dwidth_sum
      FROM (SELECT DISTINCT v, w FROM b_{tag})
    )""")
        finals.append(f"""
    SELECT '{name}' AS column_name, n, d AS n_distinct, runs,
           width_sum AS plain_bytes,
           (n * ((length(bin(greatest(d - 1, 1))) + 7) // 8)
              + dwidth_sum)::BIGINT AS dict_bytes,
           (runs * ((width_sum // n) + 4))::BIGINT AS rle_bytes,
           CASE WHEN width_sum <= (n * ((length(bin(greatest(d - 1, 1))) + 7) // 8) + dwidth_sum)
                 AND width_sum <= (runs * ((width_sum // n) + 4)) THEN 'plain'
                WHEN (n * ((length(bin(greatest(d - 1, 1))) + 7) // 8) + dwidth_sum)
                      <= (runs * ((width_sum // n) + 4)) THEN 'dict'
                ELSE 'rle' END AS encoding_choice
    FROM s_{tag}, d_{tag}""")
    return "WITH" + ",".join(blocks) + "\n" + "\nUNION ALL\n".join(finals)


@query(
    "q350_encoding_advisor",
    oracle=_enc_oracle(),
    tags=("profiling", "storage", "encoding", "columnar"),
)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor: per column, the byte-size estimates a
    parquet/ORC writer weighs when picking PLAIN vs DICTIONARY vs RLE —
    value bytes, distinct-dictionary bytes (n·⌈log2 d/8⌉ codes + the
    dictionary itself), and run-length bytes (runs·(avg_width+4)) — with
    runs counted inside l_orderkey-div-512 row groups under the table's natural
    (l_orderkey, l_linenumber) clustering, exactly the granularity real
    writers decide at. The advisor's argmin is the encoding a tuned
    layout would choose; feeding it is the point of Z-order (q110) and
    compaction (q187), which exist to RAISE run lengths.

    Scale posture (100 TB): per column, one row-group-partitioned lag
    window (row groups are the natural parallel unit — no global order)
    plus two hash aggs (full + distinct). Columns process independently —
    at scale each is its own scan-light job over one column's pages. The
    bit-width ⌈log2⌉ comes from length(bin(d−1)) — integer in both
    engines, no float log."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
            "l_suppkey",
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
            F.expr(
                "datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')"
            ).cast("bigint").alias("days"),
        )
        .withColumn("rg", F.expr(f"l_orderkey div {_ENC_RG}"))
    )
    parts = []
    for name, vcol, wkind in _ENC_SPECS:
        w = (
            F.expr(f"octet_length({vcol})").cast("bigint")
            if wkind == "octet"
            else F.lit(8).cast("bigint")
        )
        base = li.select(
            "rg", "l_orderkey", "l_linenumber", F.col(vcol).alias("v"), w.alias("w")
        )
        # v is the last sort key: (l_orderkey, l_linenumber) is not unique in
        # the fixture, and equal-v ties are interchangeable — the run count
        # is well-defined only under a total order
        lag_v = F.lag("v").over(
            W.partitionBy("rg").orderBy("l_orderkey", "l_linenumber", "v")
        )
        r = base.withColumn(
            "br", F.when(~lag_v.eqNullSafe(F.col("v")), 1).otherwise(0)
        )
        s = r.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("w").cast("bigint").alias("width_sum"),
            F.sum("br").cast("bigint").alias("runs"),
        )
        d = (
            base.select("v", "w")
            .distinct()
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("d"),
                F.sum("w").cast("bigint").alias("dwidth_sum"),
            )
        )
        dict_b = "n * ((length(bin(greatest(d - 1, 1))) + 7) div 8) + dwidth_sum"
        rle_b = "runs * ((width_sum div n) + 4)"
        parts.append(
            s.crossJoin(F.broadcast(d)).select(
                F.lit(name).alias("column_name"),
                "n",
                F.col("d").alias("n_distinct"),
                "runs",
                F.col("width_sum").alias("plain_bytes"),
                F.expr(dict_b).cast("bigint").alias("dict_bytes"),
                F.expr(rle_b).cast("bigint").alias("rle_bytes"),
                F.expr(
                    f"CASE WHEN width_sum <= ({dict_b}) AND width_sum <= ({rle_b}) "
                    f"THEN 'plain' WHEN ({dict_b}) <= ({rle_b}) THEN 'dict' "
                    f"ELSE 'rle' END"
                ).alias("encoding_choice"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# FD-audit support bar: a dependency "holds approximately" when at least
# this share (basis points) of rows agree with their group's dominant Y
_FD_SUPPORT_MIN_BP = 9_900


@query(
    "q376_functional_dependency_audit",
    oracle=f"""
    WITH base AS (
      SELECT 'brand_to_prefix' AS fd, p_brand AS x,
             substring(p_type, 1, 6) AS y FROM part
      UNION ALL
      SELECT 'key_to_brand', CAST(p_partkey AS VARCHAR), p_brand FROM part
      UNION ALL
      SELECT 'size_to_brand', CAST(p_size AS VARCHAR), p_brand FROM part
    ),
    cxy AS (SELECT fd, x, y, count(*)::BIGINT AS c FROM base GROUP BY 1, 2, 3),
    per_x AS (
      SELECT fd, x, sum(c) AS n_x, max(c) AS dom_c,
             count(*) AS n_y
      FROM cxy GROUP BY 1, 2
    )
    SELECT fd,
           count(*)::BIGINT                                  AS n_groups,
           count(*) FILTER (n_y > 1)::BIGINT                 AS n_violating_groups,
           (sum(dom_c) * 10000 // sum(n_x))::BIGINT          AS support_bp,
           (sum(dom_c) * 10000 // sum(n_x) >= {_FD_SUPPORT_MIN_BP}) AS holds
    FROM per_x GROUP BY 1
    """,
    tags=("profiling", "data-quality", "functional-dependency", "discovery"),
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit — the data-profiling
    primitive (Deequ/Metanome's FD check) behind schema discovery and
    quality gates: for each declared candidate X → Y, measure how much
    of the table agrees with its group's DOMINANT Y (support = Σ max-Y
    count / N in basis points) and how many X groups witness a
    violation. An exact key dependency scores 10000 bp with zero
    violating groups; a near-FD surfaces with its exception rate, the
    actionable number for a cleaning pipeline.

    Scale posture (100 TB): the q365 tall-form trick — one scan fans
    each row into the bounded candidate list map-side, ONE hash agg to
    the (fd × x × y) grid, then grid algebra; dominant-Y is max(c), no
    window, no self-join. Candidate count is declared and bounded."""
    part = table(spark, sf_dir, "part")
    base = part.select(
        F.explode(
            F.create_map(
                F.lit("brand_to_prefix"),
                F.struct(F.col("p_brand").alias("x"), F.substring("p_type", 1, 6).alias("y")),
                F.lit("key_to_brand"),
                F.struct(F.col("p_partkey").cast("string").alias("x"), F.col("p_brand").alias("y")),
                F.lit("size_to_brand"),
                F.struct(F.col("p_size").cast("string").alias("x"), F.col("p_brand").alias("y")),
            )
        ).alias("fd", "xy")
    ).select("fd", F.col("xy.x").alias("x"), F.col("xy.y").alias("y"))
    cxy = base.groupBy("fd", "x", "y").agg(F.count(F.lit(1)).alias("c"))
    per_x = cxy.groupBy("fd", "x").agg(
        F.sum("c").alias("n_x"),
        F.max("c").alias("dom_c"),
        F.count(F.lit(1)).alias("n_y"),
    )
    support = F.expr("sum(dom_c) * 10000 div sum(n_x)")
    return per_x.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("n_y") > 1, 1)).alias("n_violating_groups"),
        support.cast("bigint").alias("support_bp"),
        (support >= _FD_SUPPORT_MIN_BP).alias("holds"),
    )


# t-closeness dials: 5 ordinal acctbal buckets, threshold t ≤ 0.2
_TC_BUCKETS = 5
_TC_MAX_BP = 2_000


@query(
    "q379_t_closeness_audit",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment AS qi_seg, (c_nationkey % 5)::BIGINT AS qi_band,
             least({_TC_BUCKETS - 1}, greatest(0,
               floor((c_acctbal + 1000) / 2500)))::BIGINT AS sb
      FROM customer
    ),
    cells AS (SELECT DISTINCT qi_seg, qi_band FROM base),
    buckets AS (SELECT unnest(generate_series(0, {_TC_BUCKETS - 1}))::BIGINT AS sb),
    grid AS (
      SELECT c.qi_seg, c.qi_band, b.sb,
             coalesce(cnt.c, 0)::BIGINT AS c
      FROM cells c CROSS JOIN buckets b
      LEFT JOIN (SELECT qi_seg, qi_band, sb, count(*)::BIGINT AS c
                 FROM base GROUP BY 1, 2, 3) cnt
        ON cnt.qi_seg = c.qi_seg AND cnt.qi_band = c.qi_band AND cnt.sb = b.sb
    ),
    cum_cell AS (
      SELECT qi_seg, qi_band, sb,
             sum(c) OVER (PARTITION BY qi_seg, qi_band ORDER BY sb) AS cum_c,
             sum(c) OVER (PARTITION BY qi_seg, qi_band) AS n
      FROM grid
    ),
    cum_glob AS (
      SELECT sb, sum(cum_c) AS cum_g
      FROM cum_cell GROUP BY sb
    ),
    tot AS (SELECT sum(c)::BIGINT AS big_n FROM grid)
    SELECT qi_seg, qi_band,
           min(n)::BIGINT AS n,
           (sum(abs(cum_c * big_n - cum_g * n)) * 10000
              // (({_TC_BUCKETS} - 1) * min(n) * min(big_n)))::BIGINT AS t_bp,
           (sum(abs(cum_c * big_n - cum_g * n)) * 10000
              // (({_TC_BUCKETS} - 1) * min(n) * min(big_n))
              > {_TC_MAX_BP}) AS violates
    FROM cum_cell JOIN cum_glob USING (sb) CROSS JOIN tot
    WHERE sb < {_TC_BUCKETS - 1}
    GROUP BY 1, 2
    """,
    tags=("profiling", "privacy", "t-closeness", "emd"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — completes the privacy triad (k-anonymity q284,
    ℓ-diversity q346): a QI cell violates when the DISTRIBUTION of the
    sensitive attribute inside the cell strays from the global one — the
    attack ℓ-diversity misses when values are diverse but skewed. For an
    ordinal sensitive attribute the distance is the 1-D earth-mover
    (q327's metric): mean |ΔCDF| over bucket boundaries, kept exact by
    cross-multiplication (|cum_c·N − cum_g·n|) and emitted in basis
    points. Missing buckets are densified from a literal bucket spine so
    cumulative sums always cover all {_TC_BUCKETS} levels.

    Scale posture (100 TB): one hash agg to the (cell × bucket) grid,
    windows run on the grid (≤ cells·{_TC_BUCKETS} rows), the global CDF
    derives FROM the cell cumulatives (no second scan), and the 1-row
    total broadcasts."""
    base = table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("qi_seg"),
        (F.col("c_nationkey") % 5).cast("bigint").alias("qi_band"),
        F.least(
            F.lit(_TC_BUCKETS - 1),
            F.greatest(F.lit(0), F.floor((F.col("c_acctbal") + 1000) / 2500)),
        ).cast("bigint").alias("sb"),
    )
    cnt = base.groupBy("qi_seg", "qi_band", "sb").agg(F.count(F.lit(1)).alias("c"))
    cells = base.select("qi_seg", "qi_band").distinct()
    buckets = F.broadcast(
        cells.sparkSession.range(_TC_BUCKETS).select(F.col("id").cast("bigint").alias("sb"))
    )
    grid = (
        cells.crossJoin(buckets)
        .join(cnt, ["qi_seg", "qi_band", "sb"], "left")
        .select("qi_seg", "qi_band", "sb", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wc = W.partitionBy("qi_seg", "qi_band")
    cum_cell = grid.select(
        "qi_seg",
        "qi_band",
        "sb",
        F.sum("c").over(wc.orderBy("sb")).alias("cum_c"),
        F.sum("c").over(wc).alias("n"),
    )
    cum_glob = cum_cell.groupBy("sb").agg(F.sum("cum_c").alias("cum_g"))
    tot = F.broadcast(grid.agg(F.sum("c").alias("big_n")))
    t_bp = F.expr(
        f"sum(abs(cum_c * big_n - cum_g * n)) * 10000 "
        f"div (({_TC_BUCKETS} - 1) * min(n) * min(big_n))"
    )
    return (
        cum_cell.join(cum_glob, "sb")
        .crossJoin(tot)
        .filter(F.col("sb") < _TC_BUCKETS - 1)
        .groupBy("qi_seg", "qi_band")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            t_bp.cast("bigint").alias("t_bp"),
            (t_bp > _TC_MAX_BP).alias("violates"),
        )
    )


# KMV sketch dials
_KMV_K = 64
_KMV_MIX = 2_654_435_761
_KMV_P = 1_000_000_007


@query(
    "q380_kmv_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type, ((user_id + 1) * {_KMV_MIX}) % {_KMV_P} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed
    ),
    sketches AS (SELECT event_type, h, rn FROM ranked WHERE rn <= {_KMV_K}),
    per_group AS (
      SELECT event_type AS grp,
             (SELECT count(DISTINCT user_id) FROM events e2
              WHERE e2.event_type = s.event_type)::BIGINT AS exact_nd,
             max(h)::BIGINT AS h_k
      FROM sketches s GROUP BY s.event_type
    ),
    merged_ranked AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM sketches) u
    ),
    merged AS (
      SELECT 'ALL' AS grp,
             (SELECT count(DISTINCT user_id) FROM events)::BIGINT AS exact_nd,
             max(h)::BIGINT AS h_k
      FROM merged_ranked WHERE rn <= {_KMV_K}
    ),
    unioned AS (
      SELECT * FROM per_group UNION ALL SELECT * FROM merged
    )
    SELECT grp, exact_nd, h_k,
           (({_KMV_K} - 1)::BIGINT * {_KMV_P} // h_k)::BIGINT AS est_nd,
           (abs(({_KMV_K} - 1)::BIGINT * {_KMV_P} // h_k - exact_nd) * 10000
              // exact_nd)::BIGINT AS err_bp
    FROM unioned
    """,
    tags=("profiling", "sketch", "kmv", "distinct", "mergeable"),
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch — the mergeable NDV
    estimator that, unlike HLL (q191, rows-only by necessity), is
    HASH-MATCH checkable because the sketch IS k integers: hash every
    key with the portable mix, keep the k smallest distinct values per
    group, estimate NDV = (k−1)·P / h_k. The merge property is proven
    in-query: the global sketch is computed FROM the per-group sketches
    (k smallest of their union — the union of k-minima contains the
    global k minima), and its estimate is audited against the exact
    global distinct alongside every group's.

    Scale posture (100 TB): the distinct-(group, h) agg is the only
    row-scale shuffle; the per-group top-k window runs on distinct keys
    (and at an unbounded group count the same contract is a k-capped
    min-heap agg); the merge stage touches only groups·k rows — the
    reason sketches exist. Exact NDVs here are the AUDIT, not the
    production path."""
    ev = table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", (((F.col("user_id") + 1) * _KMV_MIX) % _KMV_P).alias("h"))
        .distinct()
    )
    ranked = hashed.withColumn(
        "rn", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
    )
    sketches = materialize(ranked.filter(F.col("rn") <= _KMV_K))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_nd")
    )
    per_group = (
        sketches.groupBy(F.col("event_type"))
        .agg(F.max("h").alias("h_k"))
        .join(exact, "event_type")
        .select(F.col("event_type").alias("grp"), "exact_nd", F.col("h_k").cast("bigint"))
    )
    merged_ranked = (
        sketches.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("h")))
    )
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact_nd"))
    merged = (
        merged_ranked.filter(F.col("rn") <= _KMV_K)
        .agg(F.max("h").alias("h_k"))
        .crossJoin(F.broadcast(exact_all))
        .select(F.lit("ALL").alias("grp"), "exact_nd", F.col("h_k").cast("bigint"))
    )
    est = F.expr(f"CAST({_KMV_K} - 1 AS BIGINT) * {_KMV_P} div h_k")
    return (
        per_group.unionByName(merged)
        .select(
            "grp",
            "exact_nd",
            "h_k",
            est.cast("bigint").alias("est_nd"),
            F.expr(
                f"abs(CAST({_KMV_K} - 1 AS BIGINT) * {_KMV_P} div h_k - exact_nd) "
                "* 10000 div exact_nd"
            ).cast("bigint").alias("err_bp"),
        )
    )


# Bloom sizing constants for p = 1%: m = n·ln(1/p)/ln²2 = n·9.5851,
# k = (m/n)·ln2 — both as integer rationals (×10⁴) so the advisor is
# bit-identical cross-engine
_BLOOM_M_PER_N_E4 = 95_851
_BLOOM_LN2_E4 = 6_931


@query(
    "q386_bloom_sizing_advisor",
    oracle=f"""
    WITH ndv AS (
      SELECT 'o_custkey' AS col, count(DISTINCT o_custkey)::BIGINT AS n FROM orders
      UNION ALL
      SELECT 'o_orderkey', count(DISTINCT o_orderkey)::BIGINT FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(DISTINCT o_orderpriority)::BIGINT FROM orders
    )
    SELECT col, n,
           ((n * {_BLOOM_M_PER_N_E4} + 9999) // 10000)::BIGINT      AS m_bits,
           (((n * {_BLOOM_M_PER_N_E4} + 9999) // 10000) * {_BLOOM_LN2_E4}
              + n * 5000) // (n * 10000)                            AS k_hashes,
           ((((n * {_BLOOM_M_PER_N_E4} + 9999) // 10000) + 7) // 8)::BIGINT
                                                                    AS bytes_total,
           (((n * {_BLOOM_M_PER_N_E4} + 9999) // 10000) // n)::BIGINT
                                                                    AS bits_per_key
    FROM ndv
    """,
    tags=("profiling", "bloom", "sizing", "advisor", "storage"),
)
def bloom_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing advisor — the closed-form decision every
    writer that embeds per-column Bloom filters (parquet, ORC, q175's
    semi-join reduction) makes: for target FPR p = 1%, optimal bits
    m = n·ln(1/p)/ln²2 and hash count k = (m/n)·ln 2, computed per
    column from its NDV. Both formulas are integer rationals on shared
    ×10⁴ constants (ceil for m — undersizing violates the FPR target;
    round-half-up for k), so the advice is bit-identical cross-engine.
    A 5-value priority column gets 6 bytes; the key columns get ~1.2 B
    per key — the number that decides whether the filter is worth
    writing at all.

    Scale posture (100 TB): three count-distincts over one scan — all
    three in ONE aggregate, which Spark plans as one Expand + agg, then
    a `stack` unpivot to the per-column rows. (The original shape
    unioned one agg per column and paid one full scan each — the
    round-15 scan census measured three orders scans against this very
    claim; `test_q386_single_scan_expand` now pins 1 scan + Expand.)
    At production scale the NDV input would be the q380 KMV estimate
    instead of the exact count — the advisor itself is grid-sized
    either way."""
    o = table(spark, sf_dir, "orders")
    ndv = o.agg(
        F.countDistinct("o_custkey").alias("n1"),
        F.countDistinct("o_orderkey").alias("n2"),
        F.countDistinct("o_orderpriority").alias("n3"),
    ).selectExpr(
        "stack(3, 'o_custkey', n1, 'o_orderkey', n2, 'o_orderpriority', n3)"
        " AS (col, n)"
    )
    m_bits = F.expr(f"(n * {_BLOOM_M_PER_N_E4} + 9999) div 10000")
    return ndv.select(
        "col",
        F.col("n").cast("bigint"),
        m_bits.cast("bigint").alias("m_bits"),
        F.expr(
            f"(((n * {_BLOOM_M_PER_N_E4} + 9999) div 10000) * {_BLOOM_LN2_E4} "
            f"+ n * 5000) div (n * 10000)"
        ).cast("bigint").alias("k_hashes"),
        F.expr(
            f"(((n * {_BLOOM_M_PER_N_E4} + 9999) div 10000) + 7) div 8"
        ).cast("bigint").alias("bytes_total"),
        F.expr(
            f"((n * {_BLOOM_M_PER_N_E4} + 9999) div 10000) div n"
        ).cast("bigint").alias("bits_per_key"),
    )


# q466: period split for the metric-delta root-cause report
_RC_SPLIT = "1998-01-01"


@query(
    "q466_contribution_analysis",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS nation,
             sum(CASE WHEN o.o_orderdate < TIMESTAMP '{_RC_SPLIT}'
                      THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                      ELSE 0 END)::BIGINT AS xa,
             sum(CASE WHEN o.o_orderdate >= TIMESTAMP '{_RC_SPLIT}'
                      THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                      ELSE 0 END)::BIGINT AS xb
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ),
    tot AS (SELECT sum(xa)::BIGINT AS ta, sum(xb)::BIGINT AS tb FROM rev)
    SELECT r.nation, r.xa AS before_cents, r.xb AS after_cents,
           (r.xb - r.xa)::BIGINT AS delta_cents,
           ((10000 * r.xb) // t.tb - (10000 * r.xa) // t.ta)::BIGINT
             AS share_shift_bp,
           CAST(floor(
             (CAST(r.xa AS DOUBLE) / t.ta
                * (ln(2.0 * r.xa * t.tb) - ln(CAST(r.xa AS DOUBLE) * t.tb
                              + CAST(r.xb AS DOUBLE) * t.ta))
              + CAST(r.xb AS DOUBLE) / t.tb
                * (ln(2.0 * r.xb * t.ta) - ln(CAST(r.xa AS DOUBLE) * t.tb
                              + CAST(r.xb AS DOUBLE) * t.ta))) / 2.0
                / 0.693147180559945 * 1e6) AS BIGINT) AS surprise_mu
    FROM rev r CROSS JOIN tot t
    ORDER BY abs(delta_cents) DESC, r.nation
    LIMIT 10
    """,
    tags=("profiling", "root-cause", "contribution", "adtributor"),
)
def contribution_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-delta root-cause report (Adtributor-style contribution
    analysis): explain the revenue change across the {d} boundary by
    the nation dimension — each value's absolute delta, its share
    shift in bp, and its JS-divergence 'surprise' (how much its
    before/after probability moved, in bits) — the top-10 explanation
    rows an incident dashboard shows for 'why did the metric move?'.

    Determinism: cents/deltas/share shifts are exact integers; the
    per-row surprise is ONE textually-identical IEEE expression over
    integer inputs (rounded per row, never summed across rows), so no
    float aggregate exists; ties in the |delta| ranking break by
    nation.

    Scale: one fact hash-agg to the nation grid with broadcast dims;
    the 1-row totals broadcast; ranking is a grid-sized top-k.""".format(
        d=_RC_SPLIT
    )
    rev = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN o_orderdate < TIMESTAMP '{_RC_SPLIT}' "
                    "THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END"
                )
            ).alias("xa"),
            F.sum(
                F.expr(
                    f"CASE WHEN o_orderdate >= TIMESTAMP '{_RC_SPLIT}' "
                    "THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END"
                )
            ).alias("xb"),
        )
    )
    tot = rev.agg(F.sum("xa").alias("ta"), F.sum("xb").alias("tb"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("xa").alias("before_cents"),
            F.col("xb").alias("after_cents"),
            (F.col("xb") - F.col("xa")).alias("delta_cents"),
            F.expr("(10000 * xb) div tb - (10000 * xa) div ta").alias(
                "share_shift_bp"
            ),
            # floor-µ, not round(x, 6): surprise is a float ln/quotient
            # expression (round-on-quotient outputs banned, SCALE.md
            # q288 post-mortem); the inner text is unchanged so both
            # engines still compute the identical double first.
            # KNOWN LN EXCEPTION (SCALE.md hazards, r9 advice): unlike
            # the div/sqrt-only floor-µ sites, ln is NOT IEEE
            # correctly-rounded — JVM Math.log guarantees 1-ulp, so the
            # cross-engine bit-equality argument is scoped to the
            # correctly-rounded ops and a 1-ulp ln divergence landing a
            # sum exactly on an integer-µ boundary could still flip the
            # floor. Every ln input here is an integer-valued double
            # (cents products), which keeps the inputs bit-identical;
            # the residual ln-rounding risk is the documented accepted
            # one, same class as the ⌊1e6·ln(int)⌋ µ-nats sites.
            F.expr(
                "CAST(floor((CAST(xa AS DOUBLE) / ta"
                " * (ln(2.0 * xa * tb) - ln(CAST(xa AS DOUBLE) * tb + CAST(xb AS DOUBLE) * ta))"
                " + CAST(xb AS DOUBLE) / tb"
                " * (ln(2.0 * xb * ta) - ln(CAST(xa AS DOUBLE) * tb + CAST(xb AS DOUBLE) * ta)))"
                " / 2.0 / 0.693147180559945 * 1e6) AS BIGINT)"
            ).alias("surprise_mu"),
        )
        .orderBy(F.abs(F.col("delta_cents")).desc(), "nation")
        .limit(10)
    )


@query(
    "q467_powerlaw_retention_fit",
    oracle="""
    WITH day0 AS (
      SELECT DISTINCT user_id FROM events
      WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-01'
    ),
    n0 AS (SELECT count(*)::BIGINT AS n FROM day0),
    act AS (
      SELECT date_diff('day', DATE '2024-01-01', date_trunc('day', e.ts)) AS t,
             count(DISTINCT e.user_id)::BIGINT AS nt
      FROM events e JOIN day0 d ON d.user_id = e.user_id
      WHERE date_trunc('day', e.ts) > TIMESTAMP '2024-01-01'
      GROUP BY 1
    ),
    pts AS (
      SELECT t,
             CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))) AS BIGINT) AS x,
             CAST(floor(1000000.0 * ln(CAST(nt AS DOUBLE))) AS BIGINT)
             - (SELECT CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE))) AS BIGINT)
                FROM n0) AS y
      FROM act
    ),
    s AS (
      SELECT count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
      FROM pts
    )
    SELECT n AS n_points,
           CAST(floor(-(CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * 1e6) AS BIGINT)
             AS alpha_mu,
           CAST(floor((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n) AS BIGINT)
             AS ln_c_mu
    FROM s
    """,
    tags=("profiling", "retention", "power-law", "ols"),
)
def powerlaw_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law retention fit r(t) = c·t^(−α): regress ln(retention)
    on ln(day) over the day-0 cohort's daily return rates — the decay
    exponent α that growth models quote ('our retention follows a
    −0.3 power law'). Output: point count, α, and ln c.

    Determinism: both OLS coordinates are ⌊10⁶ln(integer)⌋ micro-nats
    (the q151 discipline), so the regression's sufficient statistics
    are exact integer sums; slope and intercept are closed-form double
    ratios of those integers, floor-µ-quantized on output
    (round-on-quotient outputs banned per SCALE.md).

    Scale: one distinct-user day-0 pass (hash semi-join), one
    per-day distinct hash-agg to the 29-row grid, and a 1-row OLS
    reduce — the fit itself never touches row scale."""
    ev = table(spark, sf_dir, "events")
    day0 = materialize(
        ev.filter(F.expr("date_trunc('day', ts) = TIMESTAMP '2024-01-01'"))
        .select("user_id")
        .distinct()
    )
    n0 = day0.agg(F.count(F.lit(1)).alias("n"))
    act = (
        ev.join(day0, "user_id", "left_semi")
        .filter(F.expr("date_trunc('day', ts) > TIMESTAMP '2024-01-01'"))
        .groupBy(
            F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01")).alias("t")
        )
        .agg(F.countDistinct("user_id").alias("nt"))
    )
    ln6 = "CAST(floor(1000000.0 * ln(CAST({a} AS DOUBLE))) AS BIGINT)"
    pts = act.crossJoin(F.broadcast(n0)).select(
        "t",
        F.expr(ln6.format(a="t")).alias("x"),
        (F.expr(ln6.format(a="nt")) - F.expr(ln6.format(a="n"))).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_points"),
        # floor-µ, not round(x, 6): slope/intercept are signed float
        # quotients (round-on-quotient outputs banned, SCALE.md q288
        # post-mortem). The intercept's sufficient statistics are already
        # µ-scaled, so dividing by n alone IS the µ value.
        F.floor(
            -(
                F.expr("CAST(n * sxy - sx * sy AS DOUBLE)")
                / F.expr("CAST(n * sxx - sx * sx AS DOUBLE)")
            )
            * F.lit(1e6)
        ).cast("bigint").alias("alpha_mu"),
        F.floor(
            F.expr(
                "(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)"
                " / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n"
            )
        ).cast("bigint").alias("ln_c_mu"),
    )


# ---- q488: Chapman capture-recapture population estimate -------------------
from kinesis_customer_sample_spark.functions import tok_hash_expr as _tok


@query(
    "q488_capture_recapture",
    oracle=f"""
    WITH marked AS (
      SELECT source,
             CASE WHEN ({_tok("'cap1-' || doc_id::VARCHAR", dialect="duckdb")}) % 5 = 0
                  THEN 1 ELSE 0 END AS s1,
             CASE WHEN ({_tok("'cap2-' || doc_id::VARCHAR", dialect="duckdb")}) % 4 = 0
                  THEN 1 ELSE 0 END AS s2
      FROM documents
    ),
    agg AS (
      SELECT source,
             count(*)::BIGINT AS true_n,
             sum(s1)::BIGINT AS n1,
             sum(s2)::BIGINT AS n2,
             sum(s1 * s2)::BIGINT AS m
      FROM marked GROUP BY source
    )
    SELECT source, true_n, n1, n2, m,
           ((n1 + 1) * (n2 + 1) // (m + 1) - 1)::BIGINT AS chapman_est,
           (abs((n1 + 1) * (n2 + 1) // (m + 1) - 1 - true_n) * 10000
             // true_n)::BIGINT AS err_bp
    FROM agg ORDER BY source
    """,
    tags=("profiling", "capture-recapture", "estimation", "chapman"),
)
def capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimator — estimate the size of a
    population you can only SAMPLE: two independent deterministic
    'captures' (20% and 25% hash samples) overlap in m documents, and
    N-hat = (n1+1)(n2+1)/(m+1) - 1 recovers the total. The data-platform
    use is estimating the size of an unobservable universe (how many
    distinct upstream records exist given two partial feeds; how many
    duplicates remain given two independent dedup passes) — and because
    the fixture knows the truth, the output publishes the estimator's
    actual error in basis points per source, making this a
    self-certifying estimator audit.

    Determinism: both capture marks come from the portable polynomial
    hash (q91's split discipline); every count and the Chapman rational
    are exact int64 ops (n1*n2 <= N^2 — int64-safe to N ~ 3e9 per
    stratum; the DECIMAL(38,0) note applies beyond).

    Scale posture (100 TB): ONE map-side-combined hash-agg from the
    document scan to a |sources|-row table; the estimator is row-local
    algebra. The two 'samples' never materialize — they are integer
    indicator columns."""
    s1 = f"CASE WHEN ({_tok(chr(39) + 'cap1-' + chr(39) + ' || CAST(doc_id AS STRING)', dialect='spark')}) % 5 = 0 THEN 1 ELSE 0 END"
    s2 = f"CASE WHEN ({_tok(chr(39) + 'cap2-' + chr(39) + ' || CAST(doc_id AS STRING)', dialect='spark')}) % 4 = 0 THEN 1 ELSE 0 END"
    agg = (
        table(spark, sf_dir, "documents")
        .select("source", F.expr(s1).alias("s1"), F.expr(s2).alias("s2"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("true_n"),
            F.sum("s1").cast("bigint").alias("n1"),
            F.sum("s2").cast("bigint").alias("n2"),
            F.sum(F.expr("s1 * s2")).cast("bigint").alias("m"),
        )
    )
    return agg.select(
        "source",
        "true_n",
        "n1",
        "n2",
        "m",
        F.expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1")
        .cast("bigint")
        .alias("chapman_est"),
        F.expr("abs((n1 + 1) * (n2 + 1) div (m + 1) - 1 - true_n) * 10000 div true_n")
        .cast("bigint")
        .alias("err_bp"),
    ).orderBy("source")


# ---- q502: candidate-key discovery -------------------------------------------
_CK_COMBOS = (
    ("l_orderkey",),
    ("l_orderkey", "l_linenumber"),
    ("l_partkey", "l_suppkey"),
    ("l_orderkey", "l_partkey"),
    ("l_orderkey", "l_partkey", "l_suppkey"),
)


def _ck_name(cols: tuple) -> str:
    return "+".join(cols)


@query(
    "q502_candidate_key_discovery",
    oracle=f"""
    WITH counts AS (
      SELECT count(*)::BIGINT AS n_rows,
             {", ".join(
                 "count(DISTINCT (" + ", ".join(c) + "))::BIGINT AS d_"
                 + str(i) for i, c in enumerate(_CK_COMBOS))}
      FROM lineitem
    )
    {" UNION ALL ".join(
        f'''SELECT '{_ck_name(c)}' AS key_columns, n_rows,
               d_{i} AS n_distinct,
               (n_rows - d_{i})::BIGINT AS n_dup_rows,
               CASE WHEN d_{i} = n_rows THEN 1 ELSE 0 END AS is_unique_key,
               (d_{i} * 10000 // n_rows)::BIGINT AS uniqueness_bp
        FROM counts''' for i, c in enumerate(_CK_COMBOS))}
    ORDER BY key_columns
    """,
    tags=("profiling", "candidate-key", "uniqueness", "contract"),
)
def candidate_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery — the uniqueness profile every schema
    contract starts from: for a fixed set of column combinations over
    the fact table, exact distinct counts vs row count, duplicate mass,
    and the is-a-key verdict. This finds that (l_orderkey, l_linenumber)
    is the true composite key while (l_partkey, l_suppkey) is NOT — the
    fact a MERGE (q161), an IVM join (q255) or a dedup keeper policy
    must know before choosing its key. Complements q376's functional-
    dependency audit (FDs relate columns; keys identify rows).

    Determinism: every statistic is an exact integer (exact DISTINCT,
    never approximate — a key verdict cannot ride an estimate).

    Scale posture (100 TB): ONE pass computing all combos' distincts
    via Expand (map-side partial per combo — 5x row fan-out before the
    partial agg, standard multi-countDistinct shape); the per-combo
    expansion is a 5-row stack projection. At petabyte scale swap the
    exact counts for q17's HLL per combo and keep the same report."""
    combo_exprs = [
        F.countDistinct(*[F.col(c) for c in combo]).cast("bigint").alias(f"d_{i}")
        for i, combo in enumerate(_CK_COMBOS)
    ]
    counts = table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"), *combo_exprs
    )
    stack_args = ", ".join(
        f"'{_ck_name(c)}', d_{i}" for i, c in enumerate(_CK_COMBOS)
    )
    return (
        counts.select(
            "n_rows",
            F.expr(
                f"stack({len(_CK_COMBOS)}, {stack_args}) AS (key_columns, n_distinct)"
            ),
        )
        .select(
            "key_columns",
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct")).cast("bigint").alias("n_dup_rows"),
            F.expr("CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END").alias(
                "is_unique_key"
            ),
            F.expr("n_distinct * 10000 div n_rows")
            .cast("bigint")
            .alias("uniqueness_bp"),
        )
        .orderBy("key_columns")
    )


# ---- q512: per-user behavioral entropy ----------------------------------------


@query(
    "q512_behavior_entropy",
    oracle="""
    WITH cell AS (
      SELECT user_id, event_type, count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ),
    per_user AS (
      -- H = ln(n) - (1/n) * sum c*ln(c), in integer micro-nats: every ln
      -- sees an integer (q151 discipline); the per-user division truncates
      SELECT user_id,
             sum(c)::BIGINT AS n,
             count(*)::BIGINT AS n_types,
             (CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)
              - sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
                // sum(c))::BIGINT AS h_mu
      FROM cell GROUP BY user_id
    )
    SELECT user_id % 10 AS cohort,
           count(*)::BIGINT AS n_users,
           (sum(h_mu) // count(*))::BIGINT AS mean_entropy_mu,
           min(h_mu)::BIGINT AS min_entropy_mu,
           max(h_mu)::BIGINT AS max_entropy_mu,
           sum(CASE WHEN n_types = 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_single_type_users
    FROM per_user GROUP BY 1 ORDER BY 1
    """,
    tags=("profiling", "entropy", "behavior", "predictability"),
)
def behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy — the predictability feature behind
    churn/bot scoring: the Shannon entropy of each user's event-type
    mix, H = ln n - (1/n) * sum c_i ln c_i, rolled up per cohort. A
    bot replaying one action has H = 0; a user exercising the whole
    surface approaches ln(5). q154 scores CHARACTER-level degeneracy of
    text; this scores ACTION-level degeneracy of behavior — the
    feature q164's anomaly flags and q264's DSIR selection can consume
    directly.

    Determinism: the c*ln(c) identity keeps every transcendental on an
    INTEGER argument (the q151/q412 micro-nat discipline); per-user H
    is an exact integer rational with one truncating division; cohort
    rollups are exact int64.

    Scale posture (100 TB): one hash-agg to the (user, type) grid, one
    to users, one to the 10-row cohort grid — all map-side combined; no
    window, no join."""
    cell = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    per_user = cell.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr(
            "CAST(floor(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)"
            " - sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT))"
            "   div sum(c)"
        )
        .cast("bigint")
        .alias("h_mu"),
    )
    return (
        per_user.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.expr("sum(h_mu) div count(1)").cast("bigint").alias("mean_entropy_mu"),
            F.min("h_mu").cast("bigint").alias("min_entropy_mu"),
            F.max("h_mu").cast("bigint").alias("max_entropy_mu"),
            F.sum(F.expr("CASE WHEN n_types = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_single_type_users"),
        )
        .orderBy("cohort")
    )
