"""Training-corpus curation operators over `documents` — the fifth
LLM-pipeline wave (SURVEY.md §2B "beyond the reference" rows): benchmark
decontamination, repetition-based quality filtering (Gopher-style),
PII detection/redaction, domain-mix rebalancing, deterministic global
shuffle (training order), and chunk-level dedup (the paragraph-dedup
shape at sub-document granularity).

Scale notes (100 TB posture): every operator is explode → hash-agg or a
broadcast-join against a provably-small side (the eval shingle set, the
per-source rate table, the per-shard offset table). No Python UDFs; all
string/array math is whole-stage-codegen'd SQL expressions, and the
hash-dependent ops use the portable polynomial hash
(functions/porthash.py) so every query here is hash-match
oracle-checkable — no rows-only cop-outs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import tok_hash_expr
from kinesis_customer_sample_spark.queries.text_analysis import (
    _DUCK_TOKS,
    _SPARK_TOKS,
    _docs_with_tokens,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# 5-token shingles (real decontamination uses long n-grams — 8-13 tokens
# in published pipelines — so overlap means copied passages, not shared
# vocabulary; 5 fits the fixture's short docs while keeping the hit set
# meaningful). Registry rule: the Spark/DuckDB pair stays textually
# parallel so drift is visible in review.
_SPARK_SH5 = (
    "array_distinct(transform(sequence(1, size(toks) - 4), "
    "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2), "
    "element_at(toks, i + 3), element_at(toks, i + 4))))"
)
_DUCK_SH5 = (
    "list_distinct([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || "
    "toks[i + 3] || ' ' || toks[i + 4] for i in range(1, len(toks) - 3)])"
)

# q91's split buckets, reused verbatim: eval = the held-out 10% tail of the
# deterministic hash split, train = the 80% head. Decontamination against
# the SAME split function that produced the eval set is the point — the two
# operators compose into one pipeline.
_EVAL_LO = 90
_TRAIN_HI = 80


@query(
    "q137_decontamination",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             {tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")} % 100 AS bucket,
             {_DUCK_SH5} AS shs
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 5
    ),
    eval_sh AS (
      SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE bucket >= {_EVAL_LO}
    ),
    train AS (SELECT doc_id, shs FROM sh WHERE bucket < {_TRAIN_HI}),
    hits AS (
      SELECT t.doc_id, count(*)::BIGINT AS n_shared
      FROM (SELECT doc_id, unnest(shs) AS sh FROM train) t
      JOIN eval_sh e USING (sh)
      GROUP BY t.doc_id
    )
    SELECT t.doc_id,
           len(t.shs)::BIGINT            AS n_shingles,
           coalesce(h.n_shared, 0)       AS n_shared,
           coalesce(h.n_shared, 0) > 0   AS contaminated
    FROM train t LEFT JOIN hits h USING (doc_id)
    """,
    tags=("curation", "decontamination", "ngram", "porthash"),
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    5-token shingle with the held-out eval split (the standard n-gram
    overlap check run before pretraining). The eval set is q91's hash-split
    tail, so split + decontamination compose deterministically with no
    coordination. Scale posture: the distinct eval-shingle set is the only
    thing joined against — eval corpora are benchmarks, orders of magnitude
    smaller than training data — so it broadcasts; train postings stream
    through the broadcast join map-side and only (doc_id, hit) pairs reach
    the count shuffle. Never all-pairs, never doc×doc."""
    # postings (doc_id, bucket, shingle) computed ONCE: the
    # tokenize+shingle lambdas are interpreted (not codegen), so letting
    # Spark re-evaluate the subtree per consumer branch triples the cost —
    # same materialize-once call as q69's signature table
    postings = materialize(
        _docs_with_tokens(spark, sf_dir)
        .filter(F.size("toks") >= 5)
        .withColumn(
            "bucket",
            F.expr(f"{tok_hash_expr('CAST(doc_id AS STRING)', dialect='spark')} % 100"),
        )
        .select("doc_id", "bucket", F.explode(F.expr(_SPARK_SH5)).alias("sh"))
    )
    eval_sh = (
        postings.filter(F.col("bucket") >= _EVAL_LO).select("sh").distinct()
        .withColumn("hit", F.lit(1))
    )
    # one pass over train postings: the broadcast left-join marks eval
    # overlaps in place, so per-doc totals and overlap counts come out of a
    # single hash-agg — no join-back of a separate hits table
    return (
        postings.filter(F.col("bucket") < _TRAIN_HI)
        .join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_shared"),
        )
        .withColumn("contaminated", F.col("n_shared") > 0)
    )


# Gopher-style repetition thresholds (Rae et al. 2021 table A1 uses 0.2 for
# top-2-gram and ~0.3 for duplicate fractions; the fixture's 31-token vocab
# is far more repetitive than web text, so the cut lines sit higher to keep
# both verdict classes populated at every SF)
_TOP_TOK_MAX = 0.12
_DUP_BIGRAM_MAX = 0.55


@query(
    "q138_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(t.toks) AS tok,
             generate_subscripts(t.toks, 1) AS pos
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) t
    ),
    uni AS (
      SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c)::BIGINT AS top_cnt
      FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
      GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id,
             count(*)::BIGINT AS n_bigrams,
             count(DISTINCT bigram)::BIGINT AS n_distinct_bigrams
      FROM (
        SELECT doc_id,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM toks
      )
      WHERE bigram IS NOT NULL
      GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tokens, u.top_cnt, b.n_bigrams, b.n_distinct_bigrams,
           round(u.top_cnt / u.n_tokens, 6) AS top_tok_frac,
           round((b.n_bigrams - b.n_distinct_bigrams) / b.n_bigrams, 6) AS dup_bigram_frac,
           (round(u.top_cnt / u.n_tokens, 6) <= {_TOP_TOK_MAX}
            AND round((b.n_bigrams - b.n_distinct_bigrams) / b.n_bigrams, 6)
                <= {_DUP_BIGRAM_MAX}) AS keep
    FROM uni u JOIN bi b USING (doc_id)
    """,
    tags=("curation", "quality", "repetition", "gopher"),
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher rules' token-level
    subset): per document, the most-frequent-token fraction and the
    duplicate-bigram fraction; keep = both under threshold. Scale posture:
    one posexplode of the token array feeds BOTH metrics — unigram counts
    via hash-agg with map-side partials, bigrams via a lead window
    partitioned by doc_id (each partition is one document's tokens, never a
    global sort). The shuffle carries (doc, token) counts, not text."""
    toks = (
        _docs_with_tokens(spark, sf_dir)
        .select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    )
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"), F.max("c").alias("top_cnt"))
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bigram").alias("n_distinct_bigrams"),
        )
    )
    top_frac = F.round(F.col("top_cnt") / F.col("n_tokens"), 6)
    dup_frac = F.round(
        (F.col("n_bigrams") - F.col("n_distinct_bigrams")) / F.col("n_bigrams"), 6
    )
    return uni.join(bi, "doc_id").select(
        "doc_id",
        "n_tokens",
        "top_cnt",
        "n_bigrams",
        "n_distinct_bigrams",
        top_frac.alias("top_tok_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac <= _TOP_TOK_MAX) & (dup_frac <= _DUP_BIGRAM_MAX)).alias("keep"),
    )


# PII patterns with no regex-escape characters — [.] and [+] character
# classes parse identically in Java regex (Spark) and RE2 (DuckDB), so the
# pattern strings are shared verbatim across dialects.
_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
_PHONE_RE = "[+]1-555-[0-9]+"


@query(
    "q139_pii_redaction",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR || '@mail'
                  || (doc_id % 7)::VARCHAR || '.com or +1-555-'
                  || lpad(((doc_id * 37) % 10000)::VARCHAR, 4, '0') AS text2
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text2, '{_EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all(text2, '{_PHONE_RE}'))::BIGINT AS n_phones,
           regexp_replace(regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM enriched
    """,
    tags=("curation", "pii", "redaction", "regex"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and mask email/phone matches. The
    fixture vocabulary contains no PII, so the query deterministically
    plants one email and one phone per document first (both engines build
    the identical string), then runs the real operator — regexp_extract_all
    to count, nested regexp_replace to mask. Scale posture: map-only, zero
    shuffle; regex evaluation is whole-stage-codegen'd JVM code, the shape
    that saturates scan bandwidth at 100 TB. Real deployments swap the
    pattern list, not the plan."""
    enriched = table(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or +1-555-"),
            F.lpad(((F.col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
        ),
    )
    return enriched.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text2, '{_EMAIL_RE}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text2, '{_PHONE_RE}', 0)"))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text2", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


@query(
    "q140_domain_mixing",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*)::BIGINT AS n_before FROM documents GROUP BY source
    ),
    totals AS (
      SELECT sum(n_before)::BIGINT AS n_total, count(*)::BIGINT AS n_sources
      FROM counts
    ),
    rates AS (
      SELECT c.source, c.n_before,
             least(10000, (t.n_total * 10000) // (t.n_sources * c.n_before))
               AS rate_bp
      FROM counts c CROSS JOIN totals t
    )
    SELECT r.source, r.n_before, r.rate_bp,
           count(*) FILTER (
             WHERE {tok_hash_expr("d.doc_id::VARCHAR", dialect="duckdb")} % 10000
                   < r.rate_bp
           )::BIGINT AS n_after
    FROM documents d JOIN rates r USING (source)
    GROUP BY r.source, r.n_before, r.rate_bp
    """,
    tags=("curation", "mixing", "sampling", "porthash"),
)
def domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing toward uniform source shares: each source is
    down-sampled at rate = min(1, target_share · N / n_source), decided per
    document by the deterministic portable hash — reruns and engine swaps
    keep the exact same documents, no RNG. Rates are computed in integer
    basis points so both engines agree bit-for-bit. Scale posture: the rate
    table is |sources| rows → broadcast; the keep decision is map-side; the
    only shuffle is the per-source summary agg. The real pipeline keeps the
    filtered rows — the summary here is the auditable contract of WHICH
    rows survive."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    totals = counts.agg(
        F.sum("n_before").alias("n_total"), F.count(F.lit(1)).alias("n_sources")
    )
    rates = (
        counts.crossJoin(F.broadcast(totals))
        # `div` = integer division in both engines (DuckDB `//`) — rates in
        # basis points stay exact int64, never a float that could round
        # differently across engines
        .withColumn(
            "rate_bp",
            F.expr("least(10000, (n_total * 10000) div (n_sources * n_before))"),
        )
        .select("source", "n_before", "rate_bp")
    )
    keep = (
        F.expr(f"{tok_hash_expr('CAST(doc_id AS STRING)', dialect='spark')} % 10000")
        < F.col("rate_bp")
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source", "n_before", "rate_bp")
        .agg(F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_after"))
    )


_N_SHARDS = 32


@query(
    "q141_global_shuffle",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id,
             {tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")} AS h
      FROM documents
    )
    SELECT doc_id,
           h % {_N_SHARDS} AS shard,
           row_number() OVER (ORDER BY h % {_N_SHARDS}, h, doc_id) AS global_pos
    FROM hashed
    """,
    tags=("curation", "shuffle", "training-order", "porthash"),
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle — the training-order permutation: every
    document gets a stable position in a pseudorandom order (hash-keyed, so
    any engine reproduces it). The canonical order is (shard, h, doc_id)
    with shard = h mod 32, which lets the Spark side compute it WITHOUT a
    single-partition global window (q92's round-1 scale-killer): rank
    within each shard's window, then add per-shard offsets from a 32-row
    broadcast summary. The oracle's single row_number() over the same
    3-term order is the semantic spec; the two-level form is the plan that
    survives 100 TB — each shard sorts independently, the only global step
    is a 32-row prefix sum."""
    hashed = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"{tok_hash_expr('CAST(doc_id AS STRING)', dialect='spark')}").alias("h"),
    ).withColumn("shard", F.col("h") % _N_SHARDS)
    local = hashed.withColumn(
        "local_rn",
        F.row_number().over(W.partitionBy("shard").orderBy("h", "doc_id")),
    )
    # per-shard start offsets via the q92 triangular-self-join pattern: the
    # summary is 32 rows, and this keeps every WindowExec in the plan
    # partitioned (no single-task global window anywhere)
    counts = hashed.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    offsets = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.shard") < F.col("a.shard"), "left")
        .groupBy(F.col("a.shard").alias("shard"))
        .agg(F.coalesce(F.sum("b.n"), F.lit(0)).alias("offset"))
    )
    return local.join(F.broadcast(offsets), "shard").select(
        "doc_id", "shard", (F.col("offset") + F.col("local_rn")).alias("global_pos")
    )


_CHUNK = 8  # tokens per chunk — the "paragraph" unit of sub-document dedup


@query(
    "q142_chunk_dedup",
    oracle=f"""
    WITH chunked AS (
      SELECT doc_id,
             [array_to_string(toks[(i * {_CHUNK} + 1):((i + 1) * {_CHUNK})], ' ')
              for i in range(0, (len(toks) + {_CHUNK} - 1) // {_CHUNK})] AS cl
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 1
    ),
    chunks AS (
      SELECT doc_id, unnest(cl) AS chunk, generate_subscripts(cl, 1) AS ci
      FROM chunked
    ),
    ranked AS (
      SELECT doc_id, ci, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS occ
      FROM chunks
    )
    SELECT doc_id,
           count(*)::BIGINT                          AS n_chunks,
           count(*) FILTER (WHERE occ = 1)::BIGINT   AS n_kept,
           coalesce(string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE occ = 1), '')
             AS kept_text
    FROM ranked
    GROUP BY doc_id
    """,
    tags=("curation", "dedup", "chunk", "paragraph"),
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-style) dedup: split each document into
    8-token chunks, keep only the globally-first occurrence of each chunk
    (min (doc_id, chunk_idx)), and reassemble the surviving text per
    document — the sub-document dedup pass that removes boilerplate
    headers/footers repeated across a crawl. Scale posture: chunks shuffle
    once, hash-partitioned by chunk content for the first-occurrence
    window (each window partition is one chunk's occurrence list — tiny);
    reassembly shuffles (doc_id, ci, kept) rows back — never full
    documents both ways. At 100 TB the chunk column would carry
    (hash, first-64-chars) instead of raw text; semantics unchanged."""
    docs = _docs_with_tokens(spark, sf_dir).filter(F.size("toks") >= 1)
    # sequence(1, n) — not (0, n-1) — because Spark's sequence steps
    # DOWNWARD when start > stop (the empty-input gotcha); len >= 1 is
    # filtered above so 1..n_chunks is always ascending. ci is 1-based on
    # both sides (it only orders the reassembly, so the base cancels out).
    chunks = docs.select(
        "doc_id",
        F.expr(
            f"explode(sequence(1, (size(toks) + {_CHUNK} - 1) div {_CHUNK}))"
        ).alias("ci"),
        "toks",
    ).select(
        "doc_id",
        "ci",
        F.concat_ws(
            " ", F.slice("toks", ((F.col("ci") - 1) * _CHUNK + 1).cast("int"), _CHUNK)
        ).alias("chunk"),
    )
    ranked = chunks.withColumn(
        "occ", F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "ci"))
    )
    kept_struct = F.when(
        F.col("occ") == 1, F.struct(F.col("ci"), F.col("chunk"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("occ") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
            ),
        ).alias("kept_text"),
    )


_PIPE_BUDGET = 20_000  # chars per shard in the end-to-end pipeline


@query(
    "q148_training_pipeline",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, text, source, n_chars,
             sha256(lower(trim(text))) AS h,
             {tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")} % 100 AS bucket
      FROM documents
    ),
    keepers AS (
      SELECT * FROM hashed
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)
    ),
    toks AS (
      SELECT doc_id, unnest(t.toks) AS tok, generate_subscripts(t.toks, 1) AS pos
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM keepers) t
    ),
    uni AS (
      SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c)::BIGINT AS top_cnt
      FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
      GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             count(DISTINCT bigram)::BIGINT AS n_distinct
      FROM (SELECT doc_id,
                   tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS bigram
            FROM toks)
      WHERE bigram IS NOT NULL GROUP BY doc_id
    ),
    quality AS (
      SELECT u.doc_id FROM uni u JOIN bi b USING (doc_id)
      WHERE round(u.top_cnt / u.n_tokens, 6) <= {_TOP_TOK_MAX}
        AND round((b.n_bigrams - b.n_distinct) / b.n_bigrams, 6) <= {_DUP_BIGRAM_MAX}
    ),
    eval_sh AS (
      SELECT DISTINCT unnest({_DUCK_SH5}) AS sh
      FROM (SELECT {_DUCK_TOKS} AS toks FROM hashed WHERE bucket >= {_EVAL_LO})
      WHERE len(toks) >= 5
    ),
    contaminated AS (
      SELECT DISTINCT p.doc_id
      FROM (SELECT doc_id, unnest({_DUCK_SH5}) AS sh
            FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM keepers) WHERE len(toks) >= 5) p
      JOIN eval_sh e USING (sh)
    ),
    clean AS (
      SELECT k.doc_id, k.source, k.n_chars
      FROM keepers k
      JOIN quality q USING (doc_id)
      WHERE k.bucket < {_TRAIN_HI}
        AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    counts AS (SELECT source, count(*)::BIGINT AS n_s FROM clean GROUP BY source),
    totals AS (SELECT sum(n_s)::BIGINT AS n_total, count(*)::BIGINT AS n_src FROM counts),
    mixed AS (
      SELECT c.doc_id, c.source, c.n_chars
      FROM clean c JOIN counts USING (source) CROSS JOIN totals
      WHERE {tok_hash_expr("'mix-' || c.doc_id::VARCHAR", dialect="duckdb")} % 10000
            < least(10000, (n_total * 10000) // (n_src * n_s))
    ),
    local AS (
      SELECT doc_id, source, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS local_offset
      FROM mixed
    ),
    part_totals AS (
      SELECT source, sum(n_chars)::BIGINT AS part_chars FROM mixed GROUP BY source
    ),
    starts AS (
      SELECT a.source,
             coalesce(sum(b.part_chars), 0)::BIGINT AS part_start
      FROM part_totals a LEFT JOIN part_totals b ON b.source < a.source
      GROUP BY a.source
    )
    SELECT l.doc_id, l.source, l.n_chars,
           ((s.part_start + l.local_offset) // {_PIPE_BUDGET})::BIGINT AS shard_id
    FROM local l JOIN starts s USING (source)
    """,
    tags=("curation", "pipeline", "composite", "end-to-end"),
)
def training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline in ONE declarative flow —
    exact dedup → repetition-quality filter → split assignment →
    benchmark decontamination → domain-mix rebalancing → token-budget
    shard packing — composing q67, q138, q91, q137, q140 and q92's
    shapes into the single call a corpus owner actually runs. Each stage
    keeps its standalone scale posture (content-hash agg; one posexplode
    feeding both quality metrics; broadcast eval-shingle set; broadcast
    integer rate table; partitioned packing windows + triangular offset
    join) because the stages compose as DataFrame transforms — Catalyst
    sees one tree and pipelines the filters. Stage order note: the eval
    shingle set comes from the FULL corpus (an eval doc stays held out
    even if it is a duplicate), while mixing rates come from the
    post-filter survivor counts (the mix targets the corpus that will
    actually train)."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    hashed = d.select(
        "doc_id",
        "text",
        "source",
        "n_chars",
        F.sha2(F.lower(F.trim("text")), 256).alias("h"),
        F.expr(f"{tok_hash_expr('CAST(doc_id AS STRING)', dialect='spark')} % 100").alias(
            "bucket"
        ),
        F.expr(_SPARK_TOKS).alias("toks"),
    )
    # keepers carries the tokenized corpus and feeds FIVE downstream
    # chains (uni/bi quality metrics, the contamination probe, and the
    # clean set's three derivations); unmaterialized, each chain re-ran the
    # tokenize + sha256 + dedup window from the parquet — a 90-scan /
    # 276-Exchange plan at sf0.1 (guide §1.2). One barrier caps every
    # re-reference at a scan of the stored rows. eval_sh still derives
    # from pre-dedup `hashed` by spec (an eval doc stays held out even if
    # its keeper twin lands in a train bucket).
    keepers = materialize(
        hashed.withColumn("min_id", F.min("doc_id").over(W.partitionBy("h")))
        .filter(F.col("doc_id") == F.col("min_id"))
        .drop("min_id")
    )
    # quality metrics: one posexplode of keeper tokens feeds both
    toks = keepers.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"), F.max("c").alias("top_cnt"))
    )
    bi = (
        toks.withColumn("nxt", F.lead("tok").over(W.partitionBy("doc_id").orderBy("pos")))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.countDistinct("bigram").alias("n_distinct"))
    )
    quality = (
        uni.join(bi, "doc_id")
        .filter(
            (F.round(F.col("top_cnt") / F.col("n_tokens"), 6) <= _TOP_TOK_MAX)
            & (
                F.round((F.col("n_bigrams") - F.col("n_distinct")) / F.col("n_bigrams"), 6)
                <= _DUP_BIGRAM_MAX
            )
        )
        .select("doc_id")
    )
    # decontamination: eval shingles from the FULL corpus, broadcast
    eval_sh = (
        hashed.filter((F.col("bucket") >= _EVAL_LO) & (F.size("toks") >= 5))
        .select(F.explode(F.expr(_SPARK_SH5)).alias("sh"))
        .distinct()
    )
    contaminated = (
        keepers.filter(F.size("toks") >= 5)
        .select("doc_id", F.explode(F.expr(_SPARK_SH5)).alias("sh"))
        .join(F.broadcast(eval_sh), "sh")
        .select("doc_id")
        .distinct()
    )
    # clean is three narrow columns at survivor grain yet feeds the mix
    # rates AND both packing branches — each re-derivation re-ran the
    # quality and contamination chains; the barrier pins it once.
    clean = materialize(
        keepers.filter(F.col("bucket") < _TRAIN_HI)
        .join(quality, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )
    # domain mixing over the survivor counts
    counts = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    totals = counts.agg(F.sum("n_s").alias("n_total"), F.count(F.lit(1)).alias("n_src"))
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source", F.expr("least(10000, (n_total * 10000) div (n_src * n_s))").alias("rate_bp")
    )
    mix_key = "concat('mix-', CAST(doc_id AS STRING))"
    mixed = (
        clean.join(F.broadcast(rates), "source")
        .filter(
            F.expr(f"{tok_hash_expr(mix_key, dialect='spark')} % 10000")
            < F.col("rate_bp")
        )
        .select("doc_id", "source", "n_chars")
    )
    # q92's two-level packing over the final set
    w_local = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    local = mixed.withColumn(
        "local_offset", F.coalesce(F.sum("n_chars").over(w_local), F.lit(0))
    )
    part_totals = mixed.groupBy("source").agg(F.sum("n_chars").alias("part_chars"))
    starts = (
        part_totals.alias("a")
        .join(part_totals.alias("b"), F.col("b.source") < F.col("a.source"), "left")
        .groupBy(F.col("a.source").alias("source"))
        .agg(F.coalesce(F.sum("b.part_chars"), F.lit(0)).alias("part_start"))
    )
    return local.join(F.broadcast(starts), "source").select(
        "doc_id",
        "source",
        "n_chars",
        F.floor((F.col("part_start") + F.col("local_offset")) / _PIPE_BUDGET)
        .cast("bigint")
        .alias("shard_id"),
    )


def _raw_url_expr(dialect: str) -> str:
    """Deterministic messy-URL synthesis: four variant classes (plain,
    uppercased-host + explicit :443, utm-tracking query, trailing
    fragment) over a colliding path space — textually parallel across
    dialects so both engines see byte-identical raw URLs."""
    did = "CAST(doc_id % 50 AS STRING)" if dialect == "spark" else "(doc_id % 50)::VARCHAR"
    return (
        "concat('https://', "
        "CASE WHEN doc_id % 4 = 1 THEN upper(source) ELSE source END, "
        "'.example.com', "
        "CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END, "
        f"'/article/', {did}, "
        "CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=x' "
        "WHEN doc_id % 4 = 3 THEN '/#top' ELSE '' END)"
    )


# normalization ladder (identical text both dialects): drop fragment →
# drop utm query → drop default https port → lowercase → drop trailing /
_NORM_URL = (
    "regexp_replace(regexp_replace(regexp_replace(lower("
    "regexp_replace(raw_url, '#.*$', '')"
    "), '[?]utm_[^#]*', ''), ':443', ''), '/$', '')"
)


@query(
    "q193_url_canonical_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, source, {_raw_url_expr("duckdb")} AS raw_url
      FROM documents
    ),
    norm AS (
      SELECT doc_id, raw_url, {_NORM_URL} AS norm_url FROM raw
    ),
    g AS (
      SELECT norm_url, min(doc_id) AS canonical_doc_id,
             count(*)::BIGINT AS n_dups
      FROM norm GROUP BY norm_url
    )
    SELECT n.doc_id, n.raw_url, n.norm_url, g.canonical_doc_id,
           (n.doc_id = g.canonical_doc_id) AS is_canonical, g.n_dups
    FROM norm n JOIN g USING (norm_url)
    """,
    tags=("curation", "url", "dedup", "normalization"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier gate that runs
    BEFORE any content is fetched: scheme-default ports, host case,
    utm_* tracking params, fragments, and trailing slashes are all
    cosmetic, so the same page arrives under many raw URLs. The
    normalization ladder (drop fragment → drop tracking query → drop
    :443 → lowercase → strip trailing slash) is pure codegen'd string
    ops, map-side; the only shuffle keys on the canonical URL — exactly
    the dedup the fetch scheduler needs so one page is crawled once.
    Raw URLs are synthesized deterministically (the fixture has no URL
    column) with four messy-variant classes colliding onto a shared
    path space, so every normalization rule is exercised and dup groups
    genuinely form."""
    raw = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_raw_url_expr("spark")).alias("raw_url")
    )
    norm = raw.withColumn("norm_url", F.expr(_NORM_URL))
    g = norm.groupBy("norm_url").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return norm.join(g, "norm_url").select(
        "doc_id",
        "raw_url",
        "norm_url",
        "canonical_doc_id",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
        "n_dups",
    )


@query(
    "q200_rag_ingest_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, n_chars,
             len({_DUCK_TOKS}) AS n_toks,
             (n_chars BETWEEN 200 AND 2000) AS keep
      FROM documents
    ),
    per AS (
      SELECT source, keep,
             CASE WHEN keep AND n_toks > 0
                  THEN (g - 1) // 8 + 1 + CASE WHEN (g - 1) % 8 = 0 THEN 0 ELSE 1 END
                  ELSE 0 END AS n_chunks_doc,
             -- every chunk is exactly 32 tokens once n_toks >= 32 (the
             -- appended tail start g = n_toks - 31 yields a full window);
             -- shorter docs produce one n_toks-token chunk
             CASE WHEN keep AND n_toks >= 32
                  THEN ((g - 1) // 8 + 1
                        + CASE WHEN (g - 1) % 8 = 0 THEN 0 ELSE 1 END) * 32
                  WHEN keep AND n_toks > 0 THEN n_toks
                  ELSE 0 END AS chunk_toks_doc
      FROM (SELECT *, greatest(1, n_toks - 31) AS g FROM base)
    )
    SELECT source,
           count(*)::BIGINT                          AS n_docs,
           count(*) FILTER (keep)::BIGINT            AS n_kept,
           (count(*) FILTER (keep) * 10000 // count(*))::BIGINT AS kept_bp,
           sum(n_chunks_doc)::BIGINT                 AS n_chunks,
           sum(chunk_toks_doc)::BIGINT               AS n_chunk_tokens
    FROM per GROUP BY source
    """,
    tags=("llm", "rag", "composite", "chunking", "curation"),
)
def rag_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingest capstone: quality gate → chunk accounting → per-source
    ingest report, in one DataFrame tree. Chunk counts use the CLOSED
    FORM of q157's sliding-window scheme (32-token windows, stride 8,
    tail appended unless flush): n_chunks = ((g−1) div 8) + 1 + [tail],
    g = max(1, n_toks − 31) — so the report costs one tokenize pass and
    one hash-agg, never a chunk explosion; q157 materializes the actual
    chunks when the pipeline needs text, this query answers the capacity
    question (how many chunks/tokens will the vector store hold?) at
    metadata cost. All-integer arithmetic throughout."""
    docs = _docs_with_tokens(spark, sf_dir)
    base = docs.select(
        "source",
        F.size("toks").alias("n_toks"),
        F.col("n_chars").between(200, 2000).alias("keep"),
    ).withColumn("g", F.greatest(F.lit(1), F.col("n_toks") - 31))
    chunkable = F.col("keep") & (F.col("n_toks") > 0)
    per = base.withColumn(
        "n_chunks_doc",
        F.when(
            chunkable,
            F.expr("(g - 1) div 8 + 1 + CASE WHEN (g - 1) % 8 = 0 THEN 0 ELSE 1 END"),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "chunk_toks_doc",
        F.when(chunkable & (F.col("n_toks") >= 32), F.col("n_chunks_doc") * 32)
        .when(chunkable, F.col("n_toks"))
        .otherwise(F.lit(0)),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.expr("count(CASE WHEN keep THEN 1 END) * 10000 div count(1)")
        .cast("long")
        .alias("kept_bp"),
        F.sum("n_chunks_doc").cast("long").alias("n_chunks"),
        F.sum("chunk_toks_doc").cast("long").alias("n_chunk_tokens"),
    )


_NEY_TOTAL = 500  # total sample budget across all strata


@query(
    "q322_neyman_stratified_sample",
    oracle=f"""
    WITH m AS (
      SELECT source,
             count(*)::BIGINT AS nh,
             (count(*) * sum(n_chars * n_chars) - sum(n_chars) * sum(n_chars))
               ::BIGINT AS var_num
      FROM documents GROUP BY source
    ),
    wt AS (
      SELECT source, nh,
             (nh * CAST(round(sqrt(var_num::DOUBLE / nh / nh)) AS BIGINT))
               ::BIGINT AS w
      FROM m
    ),
    alloc AS (
      SELECT source, nh, w,
             ({_NEY_TOTAL} * w) // (SELECT sum(w) FROM wt) AS base,
             ({_NEY_TOTAL} * w) % (SELECT sum(w) FROM wt) AS rem
      FROM wt
    ),
    quota AS (
      SELECT source, nh,
             (base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                            <= {_NEY_TOTAL} - (SELECT sum(base) FROM alloc)
                     THEN 1 ELSE 0 END)::BIGINT AS quota
      FROM alloc
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")}, doc_id) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.source, q.quota, r.rk::BIGINT AS rk
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rk <= least(q.quota, q.nh)
    """,
    tags=("sampling", "stratified", "neyman", "largest-remainder"),
)
def neyman_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling with largest-remainder
    rounding — the statistically-optimal mixture sampler (allocation
    ∝ N_h·σ_h puts budget where the variance is), upgrading q185's flat
    cap and q140's fixed rates: per-source doc-length variance comes
    from exact integer moments, σ_h is rounded to an integer scale so
    weights are integers, integer division splits the {n}-doc budget,
    and the leftover seats go to the largest remainders (the
    Hare-quota/party-list method — the only rounding scheme where
    quotas sum EXACTLY to the budget). Selection within a stratum is
    portable-hash order (q185's convention) — fully deterministic,
    reproducible on any engine, no RNG.

    Scale posture (100 TB): moments are one map-side-partial agg; the
    allocation table is one row per stratum (bounded — its window is
    over strata, not data); selection is one partitioned rank. The
    whole sampler is two shuffles end-to-end."""
    docs = table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        (
            F.count(F.lit(1)) * F.sum(F.col("n_chars") * F.col("n_chars"))
            - F.sum("n_chars") * F.sum("n_chars")
        )
        .cast("long")
        .alias("var_num"),
    )
    wt = m.select(
        "source",
        "nh",
        (
            F.col("nh")
            * F.round(
                F.sqrt(F.col("var_num").cast("double") / F.col("nh") / F.col("nh"))
            ).cast("long")
        )
        .cast("long")
        .alias("w"),
    )
    tot_w = wt.agg(F.sum("w")).first()[0]  # bounded scalar (strata count)
    alloc = wt.select(
        "source",
        "nh",
        F.expr(f"({_NEY_TOTAL} * w) div {tot_w}").alias("base"),
        F.expr(f"({_NEY_TOTAL} * w) % {tot_w}").alias("rem"),
    )
    tot_base = alloc.agg(F.sum("base")).first()[0]
    leftovers = _NEY_TOTAL - int(tot_base)
    quota = alloc.withColumn(
        "seat_rk", F.row_number().over(W.orderBy(F.col("rem").desc(), "source"))
    ).select(
        "source",
        "nh",
        (F.col("base") + F.when(F.col("seat_rk") <= leftovers, 1).otherwise(0))
        .cast("long")
        .alias("quota"),
    )
    hash_expr = tok_hash_expr("CAST(doc_id AS STRING)", dialect="spark")
    w_rank = W.partitionBy("source").orderBy(F.expr(hash_expr), "doc_id")
    ranked = docs.select("doc_id", "source").withColumn(
        "rk", F.row_number().over(w_rank).cast("long")
    )
    return ranked.join(F.broadcast(quota), "source").filter(
        F.col("rk") <= F.least("quota", "nh")
    ).select("doc_id", "source", "quota", "rk")


@query(
    "q336_tokenizer_fertility_audit",
    oracle=f"""
    SELECT lang, source,
           count(*)::BIGINT AS n_docs,
           sum(length(text))::BIGINT AS n_chars,
           sum(len({_DUCK_TOKS}))::BIGINT AS n_tokens,
           (sum(len({_DUCK_TOKS})) * 10000 // sum(length(text)))::BIGINT
             AS fertility_bp,
           (sum(len({_DUCK_TOKS})) // count(*))::BIGINT AS avg_doc_tokens
    FROM documents
    GROUP BY lang, source
    """,
    tags=("llm", "tokenizer", "fertility", "data-card"),
)
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (lang, source) — tokens produced per
    10k characters, the metric that tells you which languages/sources
    your tokenizer fragments (high fertility = more tokens per char =
    more compute per byte of content and shorter effective context for
    that slice; the standard multilingual-tokenizer health check).
    Integer basis points via truncating division; character counts are
    codepoint counts in both engines, so the ratio is exact.

    Scale posture: one scan, one map-side-partial agg over the bounded
    (lang, source) grid — the cheapest query shape there is. Companion
    to q63 (which language), q92 (packing under a token budget), and
    q337 (the token-share data card)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.size(F.expr(_SPARK_TOKS))
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(toks).cast("long").alias("n_tokens"),
        F.expr(
            f"CAST(sum(size({_SPARK_TOKS})) * 10000 div sum(length(text)) AS BIGINT)"
        ).alias("fertility_bp"),
        F.expr(f"CAST(sum(size({_SPARK_TOKS})) div count(1) AS BIGINT)").alias(
            "avg_doc_tokens"
        ),
    )


@query(
    "q337_training_mix_data_card",
    oracle=f"""
    WITH g AS (
      SELECT source, lang,
             count(*)::BIGINT AS n_docs,
             sum(len({_DUCK_TOKS}))::BIGINT AS n_tokens
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM g),
    ranked AS (
      SELECT source, lang, n_docs, n_tokens,
             (n_tokens * 10000 // t)::BIGINT AS token_share_bp,
             row_number() OVER (ORDER BY n_tokens DESC, source, lang)
               ::BIGINT AS rnk,
             (sum(n_tokens) OVER (ORDER BY n_tokens DESC, source, lang
                                  ROWS UNBOUNDED PRECEDING) * 10000 // t)
               ::BIGINT AS cum_share_bp
      FROM g CROSS JOIN tot
    )
    SELECT source, lang, n_docs, n_tokens, token_share_bp, rnk, cum_share_bp
    FROM ranked
    """,
    tags=("llm", "data-card", "mixture", "accounting"),
)
def training_mix_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix data card: per (source, lang) slice, document and
    TOKEN counts, token share of the corpus in basis points, rank by
    token volume, and the cumulative share — the accounting table every
    dataset release publishes and every mixture-rebalancing decision
    (q140) starts from. 'Docs' lie about mixtures (a slice can be 1% of
    docs and 20% of tokens); this counts what the model actually trains
    on. All shares are truncating integer basis points.

    Scale posture: one tokenize-count agg over the bounded slice grid;
    the share/rank/cumulative windows run on the grid (slices, not
    rows), with the corpus total as a 1-row cross join."""
    g = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.expr(_SPARK_TOKS))).cast("long").alias("n_tokens"),
        )
    )
    tot = F.broadcast(g.agg(F.sum("n_tokens").alias("t")))
    w = W.orderBy(F.col("n_tokens").desc(), "source", "lang")
    return (
        g.crossJoin(tot)
        .withColumn("token_share_bp", F.expr("CAST(n_tokens * 10000 div t AS BIGINT)"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_share_bp",
            F.expr(
                "CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source, lang "
                "ROWS UNBOUNDED PRECEDING) * 10000 div t AS BIGINT)"
            ),
        )
        .select(
            "source", "lang", "n_docs", "n_tokens", "token_share_bp", "rnk", "cum_share_bp"
        )
    )


_SC_ROUNDS = 3  # greedy set-cover steps (k picks)


def _sc_oracle() -> str:
    """Unrolled 3-round greedy set-cover in DuckDB (same argmax + anti-join
    algebra the Spark loop runs; LIMIT 1 with (n DESC, source) tiebreak)."""
    from kinesis_customer_sample_spark.queries.dedup import _DUCK_SHINGLES

    parts = [f"""
    st AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source, unnest({_DUCK_SHINGLES}) AS tok
        FROM (SELECT source, {_DUCK_TOKS} AS toks FROM documents)
        WHERE len(toks) >= 3
      )
    ),
    g1 AS (SELECT source, count(*)::BIGINT AS n FROM st GROUP BY source),
    p1 AS (SELECT source, n FROM g1 ORDER BY n DESC, source LIMIT 1),
    c1 AS (SELECT DISTINCT tok FROM st
           WHERE source IN (SELECT source FROM p1))"""]
    for i in (2, 3):
        prev_p = " UNION ALL ".join(f"SELECT source FROM p{j}" for j in range(1, i))
        parts.append(f"""
    g{i} AS (
      SELECT source, count(*)::BIGINT AS n FROM st
      WHERE source NOT IN ({prev_p})
        AND tok NOT IN (SELECT tok FROM c{i - 1})
      GROUP BY source
    ),
    p{i} AS (SELECT source, n FROM g{i} ORDER BY n DESC, source LIMIT 1),
    c{i} AS (SELECT DISTINCT tok FROM st
             WHERE source IN ({prev_p} UNION ALL SELECT source FROM p{i}))""")
    finals = "\n    UNION ALL\n".join(
        f"""SELECT {i}::BIGINT AS step, source, n AS n_new,
           (SELECT count(*)::BIGINT FROM c{i}) AS n_covered FROM p{i}"""
        for i in (1, 2, 3)
    )
    return "WITH" + ",".join(parts) + "\n    " + finals


@query(
    "q352_greedy_set_cover",
    oracle=_sc_oracle(),
    tags=("llm", "data-selection", "set-cover", "submodular"),
)
def greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy set-cover data selection — the submodular-maximization
    staple of training-data curation (pick the k sources that together
    cover the most distinct 3-token shingles; the 1−1/e greedy guarantee is why every
    practical selector is this loop): each round counts, per unpicked
    source, the tokens NOT yet covered, and picks the argmax (ties →
    lexicographic source). The oracle unrolls the identical three rounds
    in SQL, so the driver hash-match certifies the whole argmax/anti-join
    cascade, not just the final cover size.

    Scale posture (100 TB): the (source, token) incidence is built ONCE
    (distinct → materialized); each round is one anti join against the
    covered-token set plus one source-keyed hash agg; driver state is k
    picked source NAMES (bounded scalars — the q221 BPE-argmax pattern,
    never a data collect). k is small by problem statement; rounds are
    sequential by the greedy's definition."""
    from kinesis_customer_sample_spark.queries.dedup import _SPARK_SHINGLES

    src_tok = materialize(
        _docs_with_tokens(spark, sf_dir)
        .filter(F.size("toks") >= 3)
        .select("source", F.explode(F.expr(_SPARK_SHINGLES)).alias("tok"))
        .distinct()
    )
    picked: list[str] = []
    rows: list[tuple] = []
    n_covered = 0
    for step in range(1, _SC_ROUNDS + 1):
        remaining = src_tok.filter(~F.col("source").isin(picked)) if picked else src_tok
        if picked:
            covered = (
                src_tok.filter(F.col("source").isin(picked)).select("tok").distinct()
            )
            remaining = remaining.join(covered, "tok", "left_anti")
        gains = remaining.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        best = gains.orderBy(F.col("n").desc(), F.col("source")).limit(1).collect()[0]
        picked.append(best["source"])
        # |covered| after a pick == |covered before| + the pick's gain
        # (the gain IS the count of newly covered tokens, by the greedy's
        # definition), so the per-round distinct+count action the original
        # ran here — a second full pass over the materialized incidence per
        # round — is a running sum on the driver (optimization r15,
        # guide §1.2: don't compute what algebra already gives you).
        n_covered += int(best["n"])
        rows.append((step, best["source"], int(best["n"]), n_covered))
    return spark.createDataFrame(
        rows, "step bigint, source string, n_new bigint, n_covered bigint"
    )


# priority sampling: per-segment sample size and the modulus that turns a
# mixed orderkey hash into a uniform in (0, 1] (u = (h + 1) / P)
_PS_K = 16
_PS_P = 1_000_000_007
_PS_MIX = 2_654_435_761  # Knuth multiplicative mix (q152/q271 lesson)


@query(
    "q362_priority_sampling",
    oracle=f"""
    WITH w AS (
      SELECT c.c_mktsegment AS segment, o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             ((o.o_orderkey * {_PS_MIX}) % {_PS_P}) AS h
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    pri AS (
      SELECT segment, o_orderkey, cents,
             (cents * {_PS_P} // (h + 1))::BIGINT AS priority,
             row_number() OVER (PARTITION BY segment
                                ORDER BY (cents * {_PS_P} // (h + 1)) DESC,
                                         o_orderkey) AS rn
      FROM w
    ),
    tau AS (
      SELECT segment, priority AS tau FROM pri WHERE rn = {_PS_K} + 1
    )
    SELECT p.segment,
           count(*)::BIGINT                                   AS k_sample,
           min(t.tau)::BIGINT                                 AS tau,
           sum(greatest(p.cents, t.tau))::BIGINT              AS est_total_cents,
           min(tot.true_cents)::BIGINT                        AS true_total_cents,
           (abs(sum(greatest(p.cents, t.tau)) - min(tot.true_cents)) * 10000
              // min(tot.true_cents))::BIGINT                 AS err_bp
    FROM pri p
    JOIN tau t ON p.segment = t.segment
    JOIN (SELECT segment, sum(cents)::BIGINT AS true_cents FROM w GROUP BY 1) tot
      ON p.segment = tot.segment
    WHERE p.rn <= {_PS_K}
    GROUP BY 1
    """,
    tags=("sampling", "sketch", "estimator", "curation"),
)
def priority_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup) — the weighted fixed-size
    sample whose subset-sum estimator is provably near-optimal: each item
    gets priority w/u with u uniform in (0,1], the k highest priorities
    are kept, and Σ max(wᵢ, τ) over the sample (τ = the (k+1)-th
    priority) is an unbiased estimate of the group's total weight. Here
    the estimate is audited against the true per-segment revenue. The
    uniform is a DETERMINISTIC mixed hash of the orderkey and the
    priority is one integer rational w·P div (h+1) — identical
    truncation semantics in both engines, no float anywhere.

    Scale posture (100 TB): one fact-dim hash join (customer dim
    broadcastable at dim scale), per-segment top-(k+1) via a bounded
    partitioned window (segments are a bounded set; at an unbounded key
    this would be the q333 TakeOrdered shape), and the true totals fold
    in the same shuffled pass. Sample size k is constant per group, so
    the output is segment-grid-sized."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    w = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            ((F.col("o_orderkey") * _PS_MIX) % _PS_P).alias("h"),
        )
        .withColumn("priority", F.expr(f"cents * {_PS_P} div (h + 1)"))
    )
    win = W.partitionBy("segment").orderBy(F.desc("priority"), "o_orderkey")
    pri = w.withColumn("rn", F.row_number().over(win))
    tau = pri.filter(F.col("rn") == _PS_K + 1).select(
        "segment", F.col("priority").alias("tau")
    )
    tot = w.groupBy("segment").agg(F.sum("cents").alias("true_cents"))
    est = F.sum(F.greatest(F.col("cents"), F.col("tau")))
    return (
        pri.filter(F.col("rn") <= _PS_K)
        .join(tau, "segment")
        .join(tot, "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("k_sample"),
            F.min("tau").alias("tau"),
            est.cast("bigint").alias("est_total_cents"),
            F.min("true_cents").alias("true_total_cents"),
            F.expr(
                "abs(sum(greatest(cents, tau)) - min(true_cents)) * 10000 "
                "div min(true_cents)"
            ).cast("bigint").alias("err_bp"),
        )
    )


# boilerplate-strip gates: anchor-text share above this is navigation, not
# content; stripped docs below the floor are chrome-only shells
_LINKDENSITY_MAX_BP = 2_500
_CLEAN_MIN_CHARS = 50


@query(
    "q363_boilerplate_strip",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             '<html><body><p>' || replace(text, '. ', '.</p><p>')
               || '</p><a href="/' || source || '">' || source
               || ' home</a> <a href="/more">more</a></body></html>' AS html
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                                 '\\s+', ' ', 'g'))                  AS clean,
             list_reduce(
               list_prepend(0, list_transform(
                 regexp_extract_all(html, '<a [^>]*>([^<]*)</a>', 1),
                 a -> length(a))),
               (acc, x) -> acc + x)                                  AS link_chars
      FROM h
    )
    SELECT doc_id,
           length(clean)::BIGINT                                     AS clean_len,
           link_chars::BIGINT                                        AS link_chars,
           (link_chars * 10000 // (length(clean) + link_chars))::BIGINT
                                                                     AS link_density_bp,
           (length(clean) >= {_CLEAN_MIN_CHARS}
            AND link_chars * 10000 // (length(clean) + link_chars)
                < {_LINKDENSITY_MAX_BP})                             AS keep,
           substring(clean, 1, 40)                                   AS head
    FROM s
    """,
    tags=("curation", "text", "boilerplate", "quality"),
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip + link-density gate — the first transform a
    web-crawl corpus passes (trafilatura/jusText's core decision,
    re-expressed declaratively): strip markup to visible text, measure
    what share of the page was anchor text, and drop chrome-heavy or
    hollow pages. The fixture's documents are wrapped in a DETERMINISTIC
    synthetic page frame (nav links derived from the source field) so the
    strip contract is exercised end-to-end with an exact oracle; on a
    real crawl only the wrapping step disappears. Link density =
    anchor_chars / (clean + anchor chars) in integer basis points.

    Scale posture (100 TB): pure map — two regexp passes and one
    bounded-list fold per document, whole-stage codegen, no shuffle, no
    Python; the gate prunes before anything downstream shuffles. Regex
    class kept to RE2∩Java ('<[^>]*>') so both engines agree by
    construction."""
    docs = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.regexp_replace(F.col("text"), r"\. ", ".</p><p>"),
        F.lit('</p><a href="/'),
        F.col("source"),
        F.lit('">'),
        F.col("source"),
        F.lit(' home</a> <a href="/more">more</a></body></html>'),
    )
    # NOTE: Spark regexp_replace('. ') treats the pattern as regex — escape
    # the dot; DuckDB replace() above is literal, so the two must agree on
    # the same literal substitution.
    s = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(html, "<[^>]*>", " "), r"\s+", " "
            )
        ).alias("clean"),
        F.expr(
            "aggregate(transform(regexp_extract_all("
            + _html_expr_sql()
            + ", '<a [^>]*>([^<]*)</a>', 1), a -> length(a)), 0, (acc, x) -> acc + x)"
        ).alias("link_chars"),
    )
    density_bp = F.expr("link_chars * 10000 div (length(clean) + link_chars)")
    return s.select(
        "doc_id",
        F.length("clean").cast("bigint").alias("clean_len"),
        F.col("link_chars").cast("bigint"),
        density_bp.cast("bigint").alias("link_density_bp"),
        (
            (F.length("clean") >= _CLEAN_MIN_CHARS)
            & (density_bp < _LINKDENSITY_MAX_BP)
        ).alias("keep"),
        F.substring("clean", 1, 40).alias("head"),
    )


def _html_expr_sql() -> str:
    """The synthetic page frame as a SQL expression string (the Spark side
    needs it twice: once under regexp_replace via the DataFrame API, once
    inside the higher-order aggregate, which only takes SQL text)."""
    return (
        "concat('<html><body><p>', regexp_replace(text, '\\\\. ', '.</p><p>'), "
        "'</p><a href=\"/', source, '\">', source, "
        "' home</a> <a href=\"/more\">more</a></body></html>')"
    )


@query(
    "q370_rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))
               ::BIGINT AS recency_d,
             count(*)::BIGINT AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS monetary_c
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT o_custkey, recency_d, frequency, monetary_c,
             ntile(5) OVER (ORDER BY recency_d DESC, o_custkey)  AS r_score,
             ntile(5) OVER (ORDER BY frequency, o_custkey)       AS f_score,
             ntile(5) OVER (ORDER BY monetary_c, o_custkey)      AS m_score
      FROM rfm
    )
    SELECT (r_score * 100 + f_score * 10 + m_score)::BIGINT AS segment_code,
           count(*)::BIGINT                                 AS n_customers,
           (sum(monetary_c) // count(*))::BIGINT            AS avg_monetary_c,
           min(recency_d)::BIGINT                           AS best_recency_d
    FROM scored GROUP BY 1
    """,
    tags=("curation", "segmentation", "rfm", "analytics"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) segmentation — the marketing-
    analytics staple: score every customer 1–5 on each axis by exact
    quintile (ntile with a deterministic custkey tiebreak — ties would
    otherwise make quintile edges engine-dependent), concatenate into
    the familiar 111–555 segment code, and profile each segment. Recency
    anchors to the corpus max order date (a broadcast scalar), so the
    query is rerunnable-stable.

    Scale posture (100 TB): the RFM base is one hash agg to the CUSTOMER
    grain; the three ntile windows run over the customer dim (dim-sized,
    the q366 dim-build cost class — at extreme customer counts each
    becomes a 2-pass percentile cut, same contract). The segment rollup
    is 125 rows."""
    orders = table(spark, sf_dir, "orders")
    anchor = F.broadcast(orders.agg(F.max("o_orderdate").alias("mx")))
    rfm = (
        orders.crossJoin(anchor)
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.min("mx"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "monetary_c"
            ),
        )
    )
    scored = rfm.select(
        "o_custkey",
        "recency_d",
        "frequency",
        "monetary_c",
        F.ntile(5).over(W.orderBy(F.desc("recency_d"), "o_custkey")).alias("r_score"),
        F.ntile(5).over(W.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary_c", "o_custkey")).alias("m_score"),
    )
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).cast("bigint").alias("segment_code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr("sum(monetary_c) div count(1)")
            .cast("bigint")
            .alias("avg_monetary_c"),
            F.min("recency_d").alias("best_recency_d"),
        )
    )


# Flesch reading-ease bands (integer milli-points to stay engine-exact)
_FLESCH_EASY_MILLI = 70_000
_FLESCH_HARD_MILLI = 30_000


@query(
    "q377_readability_score",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len({_DUCK_TOKS})::BIGINT                              AS n_words,
             greatest(1, length(text) - length(replace(text, '.', '')))::BIGINT
                                                                    AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
                                                                    AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           (206835 - 1015 * n_words // n_sentences
                   - 84600 * n_syllables // greatest(n_words, 1))::BIGINT
             AS flesch_milli,
           CASE
             WHEN 206835 - 1015 * n_words // n_sentences
                         - 84600 * n_syllables // greatest(n_words, 1)
                  >= {_FLESCH_EASY_MILLI} THEN 'easy'
             WHEN 206835 - 1015 * n_words // n_sentences
                         - 84600 * n_syllables // greatest(n_words, 1)
                  < {_FLESCH_HARD_MILLI} THEN 'hard'
             ELSE 'standard'
           END AS band
    FROM m
    """,
    tags=("curation", "text", "readability", "quality"),
)
def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring — the curation-filter classic next to
    Gopher rules (q138): 206.835 − 1.015·(words/sentence) −
    84.6·(syllables/word), with syllables approximated by vowel-group
    runs (the standard heuristic). Every term is integer milli-points
    with truncating division, so the score and band are bit-identical
    across engines; sentence count clamps to ≥1 (headline-only docs).

    Scale posture (100 TB): pure map over documents — a regex count,
    two string lengths, integer arithmetic; whole-stage codegen, no
    shuffle. The band label is what a mix-targeting pipeline (q140)
    consumes as a grouping key downstream."""
    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.expr(f"CAST(size({_SPARK_TOKS}) AS BIGINT)").alias("n_words"),
        F.greatest(
            F.lit(1),
            F.length("text") - F.length(F.regexp_replace("text", r"\.", "")),
        ).cast("bigint").alias("n_sentences"),
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)"
        ).alias("n_syllables"),
    )
    flesch = F.expr(
        "206835 - 1015 * n_words div n_sentences "
        "- 84600 * n_syllables div greatest(n_words, 1)"
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.cast("bigint").alias("flesch_milli"),
        F.when(flesch >= _FLESCH_EASY_MILLI, "easy")
        .when(flesch < _FLESCH_HARD_MILLI, "hard")
        .otherwise("standard")
        .alias("band"),
    )


# interleave audit: window width for the mix check
_IL_WINDOW = 20


@query(
    "q410_stratified_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, source,
             row_number() OVER (ORDER BY r, source, doc_id) AS pos
      FROM ranked
    ),
    windows AS (
      SELECT ((pos - 1) // {_IL_WINDOW})::BIGINT AS w, source,
             count(*)::BIGINT AS c
      FROM ordered GROUP BY 1, 2
    )
    SELECT w,
           count(*)::BIGINT  AS n_sources_present,
           max(c)::BIGINT    AS max_from_one_source,
           sum(c)::BIGINT    AS n_docs
    FROM windows GROUP BY 1
    ORDER BY w
    """,
    tags=("curation", "training-order", "interleave", "stratified"),
)
def stratified_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified training-order interleave — the ordering construction
    between q141's global shuffle and raw concatenation: rank documents
    WITHIN each source, then order globally by (within-source rank,
    source) — the classic round-robin interleave that guarantees every
    consecutive training window sees a near-uniform source mix (no
    curriculum accidents from a source-sorted corpus). The audit grids
    the order into {_IL_WINDOW}-doc windows and reports per-window
    source presence and the max single-source share — the numbers a
    data-loader reviewer checks.

    Scale posture (100 TB): one source-partitioned rank window
    (shard-parallel) + the global order materialized only as window
    STATISTICS (the grid agg) — the full ordered corpus is written by
    the same sortWithinPartitions/partition-key layout q141 documents;
    no row-scale global window survives in this audit (the global
    row_number here runs over the doc table once, the same cost class
    as q141's keyed sort)."""
    ranked = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.row_number()
        .over(W.partitionBy("source").orderBy("doc_id"))
        .alias("r"),
    )
    ordered = ranked.select(
        "source",
        F.row_number().over(W.orderBy("r", "source", "doc_id")).alias("pos"),
    )
    windows = ordered.groupBy(
        ((F.col("pos") - 1) / _IL_WINDOW).cast("bigint").alias("w"), "source"
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        windows.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_sources_present"),
            F.max("c").alias("max_from_one_source"),
            F.sum("c").alias("n_docs"),
        )
        .orderBy("w")
    )


# forget-me audit: deterministic deletion cohort (every 97th user)
_RTBF_MOD = 97


@query(
    "q411_forget_me_propagation",
    oracle=f"""
    WITH del AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {_RTBF_MOD} = 0
    ),
    counts AS (
      SELECT 'events' AS tbl, count(*)::BIGINT AS n_rows,
             (SELECT count(*) FROM events e JOIN del d USING (user_id))::BIGINT
               AS n_affected
      FROM events
      UNION ALL
      SELECT 'orders', count(*),
             (SELECT count(*) FROM orders o JOIN del d ON o.o_custkey = d.user_id)
      FROM orders
      UNION ALL
      SELECT 'customer', count(*),
             (SELECT count(*) FROM customer c JOIN del d ON c.c_custkey = d.user_id)
      FROM customer
    )
    SELECT tbl, n_rows, n_affected,
           (n_affected * 10000 // n_rows)::BIGINT AS affected_bp,
           (SELECT count(*) FROM del)::BIGINT     AS n_subjects
    FROM counts
    """,
    tags=("curation", "privacy", "rtbf", "compliance"),
)
def forget_me_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit — the compliance query run
    BEFORE executing a deletion batch: a subject cohort (here a
    deterministic fixture cohort; in production the request queue)
    is traced through every table that keys on the subject, counting
    rows each table must delete or anonymize. The per-table affected
    share is the blast-radius number a DPO signs off on, and the plan
    (broadcast semi joins against the cohort) is EXACTLY the shape the
    actual delete job uses — audit and execution share one definition.

    Scale posture (100 TB): the cohort is request-queue-sized,
    materialized (its four plan references — the subject count plus three
    broadcast legs — must not re-derive the cohort build), and
    broadcasts; each audited table contributes EXACTLY one scan — a
    broadcast LEFT join against the flagged cohort (distinct keys, so
    no fanout) feeding one conditional aggregate that counts total and
    affected rows together — no shuffle of fact data; counts combine
    map-side. (The original shape paid two scans per table — separate
    semi-join-count and total-count aggregates — and re-derived the
    cohort four times: the round-15 scan census measured six events
    scans against this docstring; `test_q411_one_scan_per_audited_table`
    now pins the counts.) The q375 vacuum pattern then reclaims the
    rewritten files."""
    ev = table(spark, sf_dir, "events")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    from kinesis_customer_sample_spark.functions import broadcast_if_bounded

    del_ = materialize(
        ev.filter(F.col("user_id") % _RTBF_MOD == 0)
        .select("user_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # the cohort is request-queue-sized at production but SF-scaled in the
    # fixture (1/_RTBF_MOD of users), so the broadcast hint is gated on the
    # measured count
    n_del = del_.count()
    n_subjects = F.broadcast(del_.agg(F.count(F.lit(1)).alias("n_subjects")))

    def audit_tbl(df: DataFrame, keycol: str, tag: str) -> DataFrame:
        # one scan: broadcast left join adds a match flag (cohort keys are
        # distinct — row multiplicity preserved), one conditional agg
        # counts rows and affected rows together
        return (
            df.join(
                broadcast_if_bounded(
                    del_.withColumnRenamed("user_id", keycol), n_del
                ),
                keycol,
                "left",
            )
            .agg(
                F.lit(tag).alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("_hit") == 1, 1)).alias("n_affected"),
            )
        )

    counts = (
        audit_tbl(ev, "user_id", "events")
        .unionByName(audit_tbl(orders, "o_custkey", "orders"))
        .unionByName(audit_tbl(cust, "c_custkey", "customer"))
    )
    return counts.crossJoin(n_subjects).select(
        "tbl",
        "n_rows",
        "n_affected",
        F.expr("n_affected * 10000 div n_rows").cast("bigint").alias("affected_bp"),
        F.col("n_subjects").cast("bigint"),
    )


_ES_K = 50  # sample size for the weighted without-replacement draw


@query(
    "q471_weighted_sample_es",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             CAST(floor(1000000000000.0 *
                    ln(CAST(({tok_hash_expr("o_orderkey::VARCHAR", dialect="duckdb")} + 1)
                            AS DOUBLE) / 1000000007.0)
                    / o_totalprice) AS BIGINT) AS key_nano
      FROM orders
    )
    SELECT row_number() OVER (ORDER BY key_nano DESC, o_orderkey) AS draw_rank,
           o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS weight_cents,
           key_nano
    FROM keyed
    ORDER BY key_nano DESC, o_orderkey
    LIMIT {_ES_K}
    """,
    tags=("curation", "sampling", "weighted", "porthash"),
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each order draws u ∈ (0,1] from the
    portable rolling hash of its key and competes with key u^(1/w),
    w = o_totalprice — the top-k by key is a bona-fide weight-
    proportional WOR sample, reproducible on any engine. The monotone
    transform ln(u)/w replaces u^(1/w) (same ordering), floored to
    integer nano-units per the q419 integer-ln discipline so the rank
    ORDER is integer-exact cross-engine (ties then break by orderkey).

    Scale: the keying is one map-only codegen expression over the fact
    scan; the global top-k is TakeOrderedAndProject (per-partition heaps
    + a k-row driver merge) — no global sort, no shuffle of the
    non-sampled mass. This is the one-pass 100 TB-safe way to draw a
    weight-proportional sample for eval sets / annotation budgets;
    complements q322's stratified Neyman allocation (size-stratified)
    with importance-weighted selection."""
    u = (
        f"(CAST(({tok_hash_expr('CAST(o_orderkey AS STRING)', dialect='spark')} + 1) "
        f"AS DOUBLE) / 1000000007.0)"
    )
    keyed = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.expr(
            f"CAST(floor(1000000000000.0 * ln({u}) / o_totalprice) AS BIGINT)"
        ).alias("key_nano"),
    )
    topk = keyed.orderBy(F.col("key_nano").desc(), "o_orderkey").limit(_ES_K)
    return topk.select(
        F.row_number()
        .over(W.orderBy(F.col("key_nano").desc(), "o_orderkey"))
        .alias("draw_rank"),
        "o_orderkey",
        # exact integer cents, not round(x, 2): the weight was the last
        # float-typed output column among the never-walked queries —
        # migrated to the house integer discipline while the hash is
        # still unpinned (round-10 pre-pin audit)
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("weight_cents"),
        "key_nano",
    )


# ---- q514: data-subject access report (DSAR) -----------------------------------
_DSAR_MOD = 997  # deterministic subject sample: custkey % 997 == 0


@query(
    "q514_subject_access_report",
    oracle=f"""
    WITH subjects AS (
      SELECT c_custkey AS subject_id FROM customer
      WHERE c_custkey % {_DSAR_MOD} = 0
    ),
    o AS (
      SELECT o_custkey AS subject_id, count(*)::BIGINT AS n,
             min(o_orderdate) AS first_ts, max(o_orderdate) AS last_ts
      FROM orders JOIN subjects ON subject_id = o_custkey GROUP BY 1
    ),
    l AS (
      SELECT o.o_custkey AS subject_id, count(*)::BIGINT AS n,
             min(o.o_orderdate) AS first_ts, max(o.o_orderdate) AS last_ts
      FROM lineitem li
      JOIN orders o ON o.o_orderkey = li.l_orderkey
      JOIN subjects s ON s.subject_id = o.o_custkey
      GROUP BY 1
    ),
    e AS (
      SELECT user_id AS subject_id, count(*)::BIGINT AS n,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events JOIN subjects ON subject_id = user_id GROUP BY 1
    )
    SELECT s.subject_id, t.tbl, coalesce(t.n, 0) AS n_rows,
           CAST(t.first_ts AS DATE) AS first_seen,
           CAST(t.last_ts AS DATE) AS last_seen
    FROM subjects s
    JOIN (
      SELECT 'orders' AS tbl, * FROM o
      UNION ALL SELECT 'lineitem', * FROM l
      UNION ALL SELECT 'events', * FROM e
    ) t ON t.subject_id = s.subject_id
    ORDER BY s.subject_id, t.tbl
    """,
    tags=("compliance", "dsar", "federated", "governance"),
)
def subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-subject access report (GDPR Art. 15 / CCPA) — for each
    subject in the request batch, every table holding their data with
    row counts and first/last-seen dates. The access-side companion of
    q411's forget-me DELETION propagation: same subject keys, same
    table graph (lineitem reached through its orders foreign key), but
    read-only evidence instead of tombstones. The request batch is a
    deterministic key sample standing in for the day's DSAR queue.

    Determinism: subject selection is exact modular arithmetic; counts
    and date bounds are exact aggregates.

    Scale posture (100 TB): the subject batch is broadcast to every
    table scan (semi-join pushdown — each scan filters before any
    shuffle); per-table evidence is one hash-agg at subject grain; the
    report union is batch-sized. Adding a table = one more broadcast
    leg, never a new full-corpus pass."""
    subjects = F.broadcast(
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % _DSAR_MOD == 0)
        .select(F.col("c_custkey").alias("subject_id"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .join(subjects, F.col("o_custkey") == F.col("subject_id"))
        .groupBy("subject_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderdate").cast("date").alias("first_seen"),
            F.max("o_orderdate").cast("date").alias("last_seen"),
        )
        .select(F.lit("orders").alias("tbl"), "subject_id", "n_rows", "first_seen", "last_seen")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(subjects, F.col("o_custkey") == F.col("subject_id"))
        .groupBy("subject_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderdate").cast("date").alias("first_seen"),
            F.max("o_orderdate").cast("date").alias("last_seen"),
        )
        .select(F.lit("lineitem").alias("tbl"), "subject_id", "n_rows", "first_seen", "last_seen")
    )
    e = (
        table(spark, sf_dir, "events")
        .join(subjects, F.col("user_id") == F.col("subject_id"))
        .groupBy("subject_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("ts").cast("date").alias("first_seen"),
            F.max("ts").cast("date").alias("last_seen"),
        )
        .select(F.lit("events").alias("tbl"), "subject_id", "n_rows", "first_seen", "last_seen")
    )
    return (
        o.unionByName(li)
        .unionByName(e)
        .select("subject_id", "tbl", "n_rows", "first_seen", "last_seen")
        .orderBy("subject_id", "tbl")
    )
