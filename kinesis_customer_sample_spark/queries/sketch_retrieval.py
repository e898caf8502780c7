"""Sketch / retrieval / attribution operators — the seventh wave
(SURVEY.md §2B "beyond the reference" rows): explicit Bloom-filter
semi-join reduction, BM25 full-text ranking, last-touch attribution
(as-of with a lookback horizon), a count-min sketch with exact-vs-
estimate audit, and duplicate-group-aware (leakage-safe) dataset
splitting.

Scale posture (100 TB):
- q175 is THE shuffle-avoidance pattern for selective fact⋈dim joins:
  the build side is reduced to a fixed-size integer bitmap (8 KB here,
  independent of build cardinality beyond FPP tuning) that is broadcast
  and applied MAP-SIDE on the probe scan, so rows that cannot join never
  enter the exchange. Spark's runtime bloom (spark.sql.optimizer.runtime.
  bloomFilter.*) does this opaquely; the explicit form is deterministic,
  oracle-checkable, and portable to engines without the rule.
- q176/q178 are explode → vocabulary-sized hash-aggs with map-side
  partial aggregation; every probe join has a broadcast-sized build side
  (3 query terms; a 4×1024 sketch). The CMS cell grid is CONSTANT-size
  regardless of corpus scale and each cell is a mergeable sum — partials
  combine across 1000 executors without a second pass over the data.
- q177 is the union+window as-of shape (one shuffle on user_id, linear
  scan per key) — never a per-purchase subquery against the click table.
- q179 is map-only except one hash-agg keyed by content hash (the dedup
  group key): split assignment is a pure function of the group key, so
  exact duplicates can never straddle train/test no matter how the
  corpus is partitioned.
- Cross-engine float safety: BM25's per-(doc,term) score is floored into
  integer micro-units BEFORE the cross-term sum (q151's pattern); Bloom
  and CMS are pure int64 arithmetic mod P (porthash contract).
No Python UDFs anywhere; everything is whole-stage-codegen'd SQL.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import (
    MOD_P,
    minhash_perm_expr,
    tok_hash_expr,
)
from kinesis_customer_sample_spark.queries.text_analysis import (
    _DUCK_TOKS,
    _docs_with_tokens,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# --- q175: Bloom-filter semi-join reduction --------------------------------

# 62 usable bits per word (1 << 62 is the largest power of two DuckDB's
# checked int64 shift/bit_or arithmetic can hold without overflow errors;
# Spark wraps silently but the oracle must not), 1024 words ≈ 63.5k bits.
# With ~300 build keys at sf0.01 and k=3 probes the FPP is ≪ 1e-6; at real
# scale m/k are tuned to the build cardinality — the SHAPE (fixed-size
# bitmap, map-side probe) is the contract, not these constants.
_BLOOM_WORD_BITS = 62
_BLOOM_WORDS = 1024
_BLOOM_BITS = _BLOOM_WORD_BITS * _BLOOM_WORDS
_BLOOM_K = 3


def _bloom_positions(key: str) -> list[str]:
    """k bit positions for an int64 key — pure mod-P arithmetic, identical
    text in both dialects (porthash contract)."""
    h = f"(({key}) % {MOD_P})"
    return [f"({minhash_perm_expr(h, i)} % {_BLOOM_BITS})" for i in range(_BLOOM_K)]


@query(
    "q175_bloom_prefilter_join",
    oracle="""
    SELECT o_orderpriority,
           count(*)::BIGINT                                   AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
    tags=("join", "bloom", "scale-pattern"),
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: orders of BUILDING-segment
    customers, with the probe side pre-filtered by a broadcast Bloom
    bitmap BEFORE the exact semi-join.

    Build: segment customers → k=3 portable-hash bit positions each →
    bit_or into a 1024-word int64 bitmap → one map literal broadcast to
    every probe task. Probe: each order tests all k bits map-side; only
    survivors (true matches + FPP ≈ 1e-6 false positives) reach the
    left-semi join that restores exactness. Bloom filters have no false
    negatives, so the oracle is the plain IN-subquery — the bitmap is a
    pure shuffle-reduction, invisible in the result. At 100 TB this is
    the difference between shuffling every order and shuffling only the
    ~1/5 that can match (Spark's runtime bloomFilter rule automates the
    same idea; the explicit form is deterministic and plan-testable)."""
    cust_f = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    pos = _bloom_positions("c_custkey")
    bitmap = (
        cust_f.select(
            F.explode(F.array(*[F.expr(p) for p in pos])).alias("pos")
        )
        .groupBy(F.expr(f"pos div {_BLOOM_WORD_BITS}").alias("word"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {_BLOOM_WORD_BITS} AS INT)))"
            ).alias("mask")
        )
    )
    bmap = F.broadcast(
        bitmap.agg(
            F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias(
                "bmap"
            )
        )
    )
    orders = table(spark, sf_dir, "orders")
    probe_pos = _bloom_positions("o_custkey")
    might_contain = None
    for p in probe_pos:
        test = F.expr(
            f"(coalesce(element_at(bmap, ({p}) div {_BLOOM_WORD_BITS}), "
            f"CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), "
            f"CAST(({p}) % {_BLOOM_WORD_BITS} AS INT))) != 0"
        )
        might_contain = test if might_contain is None else (might_contain & test)
    survivors = orders.crossJoin(bmap).filter(might_contain)
    exact = survivors.join(
        F.broadcast(cust_f.select("c_custkey")),
        survivors.o_custkey == F.col("c_custkey"),
        "left_semi",
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("total_cents"),
    )


# --- q176: BM25 ranking ----------------------------------------------------

_BM25_TERMS = ("spark", "join", "query")
_BM25_K = 10


def _bm25_score_expr(*, dialect: str) -> str:
    """Okapi BM25 per-(doc,term) partial score in integer micro-units.
    k1 = 1.2, b = 0.75 appear as the literals 2.2 (k1+1), 1.2, 0.25
    (1−b) and 0.75. The float expression tree is TEXTUALLY parallel
    across dialects (same op order → same IEEE results); flooring to
    µ-units happens per term, so the cross-term sum is exact integer
    arithmetic (q151's contract)."""
    nd = "CAST(n_docs AS DOUBLE)" if dialect == "spark" else "n_docs::DOUBLE"
    tf = "CAST(tf AS DOUBLE)" if dialect == "spark" else "tf::DOUBLE"
    dl = "CAST(dl AS DOUBLE)" if dialect == "spark" else "dl::DOUBLE"
    sdl = "CAST(sum_dl AS DOUBLE)" if dialect == "spark" else "sum_dl::DOUBLE"
    df = "CAST(df AS DOUBLE)" if dialect == "spark" else "df::DOUBLE"
    idf = f"ln(1.0 + ({nd} - {df} + 0.5) / ({df} + 0.5))"
    tfn = f"(({tf} * 2.2) / ({tf} + 1.2 * (0.25 + 0.75 * ({dl} * {nd}) / {sdl})))"
    floor_cast = (
        f"CAST(floor({idf} * {tfn} * 1000000) AS BIGINT)"
        if dialect == "spark"
        else f"floor({idf} * {tfn} * 1000000)::BIGINT"
    )
    return floor_cast


def _bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scorer (q176 + q199's lexical leg): one row per doc
    matching ≥1 query term, with (bm25_mu, n_terms_matched) — computed
    ROW-LOCALLY from the token arrays. dl = size(toks) and per-term
    tf = size(toks) − size(array_remove(toks, term)) are codegen scalar
    expressions, so the posting explode, the doc-grain tf/dl shuffles and
    the tfs⋈dls join of the original shape all disappear (guide §2.4 /
    §4.2): the only remaining agg is the broadcast 1-row corpus-stats pass
    (N, Σdl, per-term df). Per-term scores stay the exact µ-unit integers
    of `_bm25_score_expr` — the float tree is textually identical with the
    leaf columns renamed, and the cross-term sum is integer arithmetic —
    so results are bit-identical to the join form."""
    terms = _BM25_TERMS
    docs = _docs_with_tokens(spark, sf_dir).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            (F.size("toks") - F.size(F.array_remove("toks", t)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # one corpus pass for N (docs with ≥1 token — explode semantics), Σdl
    # and the per-term document frequencies; broadcast as a 1-row table
    stats = F.broadcast(
        docs.agg(
            F.count(F.when(F.col("dl") > 0, 1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
                for i in range(len(terms))
            ],
        )
    )

    def term_score(i: int) -> str:
        s = _bm25_score_expr(dialect="spark")
        s = re.sub(r"\btf\b", f"tf{i}", s)
        s = re.sub(r"\bdf\b", f"df{i}", s)
        # tf = 0 terms contribute nothing (the inner-join semantics of the
        # posting form); the guard is explicit rather than relying on
        # floor(idf · 0) == 0
        return f"(CASE WHEN tf{i} > 0 THEN {s} ELSE CAST(0 AS BIGINT) END)"

    idx = range(len(terms))
    return (
        docs.crossJoin(stats)
        .filter(F.expr(" OR ".join(f"tf{i} > 0" for i in idx)))
        .select(
            "doc_id",
            F.expr(" + ".join(term_score(i) for i in idx))
            .cast("long")
            .alias("bm25_mu"),
            F.expr(" + ".join(f"CAST(tf{i} > 0 AS BIGINT)" for i in idx))
            .cast("long")
            .alias("n_terms_matched"),
        )
    )


@query(
    "q176_bm25_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    dls AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dls
    ),
    tfs AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tfs GROUP BY tok),
    parts AS (
      SELECT t.doc_id, {_bm25_score_expr(dialect="duckdb")} AS score_mu
      FROM tfs t JOIN dfs USING (tok) JOIN dls USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id,
           sum(score_mu)::BIGINT AS bm25_mu,
           count(*)::BIGINT      AS n_terms_matched
    FROM parts GROUP BY doc_id
    ORDER BY bm25_mu DESC, doc_id LIMIT {_BM25_K}
    """,
    tags=("llm", "retrieval", "bm25"),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text ranking: top-10 documents for the query terms
    {spark, join, query}. With a FIXED query, every per-doc input (dl,
    per-term tf) is a row-local array expression over the token
    arrays, so the whole query is two corpus map passes — one 1-row
    stats/df aggregate (broadcast back) and one scoring pass — with no
    posting explode, no doc-grain shuffle and no join
    (`_bm25_doc_scores`). Docs containing none of the terms are filtered
    map-side — at 100 TB the candidate set is still the posting-list
    union, selected by predicate instead of join. Per-term scores are
    floored to integer micro-units before the cross-term sum, and the
    final top-k is TakeOrderedAndProject (no global sort)."""
    return (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("bm25_mu").desc(), "doc_id")
        .limit(_BM25_K)
    )


# --- q177: last-touch attribution ------------------------------------------


@query(
    "q177_last_touch_attribution",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.event_id AS click_event_id,
           c.ts       AS click_ts,
           ((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000)::BIGINT AS lag_s
    FROM events p
    LEFT JOIN LATERAL (
      SELECT event_id, ts FROM events c
      WHERE c.user_id = p.user_id AND c.event_type = 'click'
        AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 7 DAY
      ORDER BY ts DESC, event_id DESC LIMIT 1
    ) c ON TRUE
    WHERE p.event_type = 'purchase'
    """,
    tags=("analytics", "asof", "attribution"),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent click within a 7-day lookback (NULL when none). The engine
    form is the O(n+m) union+window as-of shape — clicks and purchases
    tagged and interleaved in (ts, kind, event_id) order, a running
    `last(click, ignorenulls)` carried forward per user, then the
    lookback horizon applied — ONE shuffle on user_id and a linear pass
    per key. The oracle is the per-purchase LATERAL subquery (quadratic
    form DuckDB can afford at sf0.01). Ties (click and purchase in the
    same microsecond) resolve click-first, then max event_id, on both
    sides."""
    ev = table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(1).alias("kind"),
        F.when(
            F.col("event_type") == "click", F.struct("ts", "event_id")
        ).alias("click"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn("last_click", F.last("click", ignorenulls=True).over(w))
    in_window = F.col("last_click.ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")
    return carried.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_window, F.col("last_click.event_id")).alias("click_event_id"),
        F.when(in_window, F.col("last_click.ts")).alias("click_ts"),
        # elapsed whole seconds via integer epoch-µs arithmetic: DuckDB's
        # date_diff('second', …) counts boundary CROSSINGS and Spark's
        # timestampdiff floors elapsed time — they disagree whenever the
        # µs fractions straddle a second boundary, so neither is used
        F.when(
            in_window,
            F.expr(
                "(unix_micros(CAST(ts AS TIMESTAMP)) "
                "- unix_micros(CAST(last_click.ts AS TIMESTAMP))) div 1000000"
            ),
        )
        .cast("long")
        .alias("lag_s"),
    )


# --- q178: count-min sketch ------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_TOPK = 20


def _cms_pos(h: str, d: int) -> str:
    return f"({minhash_perm_expr(h, d)} % {_CMS_WIDTH})"


@query(
    "q178_cms_frequency_estimate",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, count(*)::BIGINT AS c,
             {tok_hash_expr("tok", dialect="duckdb")} AS h
      FROM tok GROUP BY tok
    ),
    cells AS (
      SELECT d, pos, sum(c)::BIGINT AS cell FROM (
        SELECT dd.d, CASE dd.d
               {" ".join(f"WHEN {d} THEN {_cms_pos('h', d)}" for d in range(_CMS_DEPTH))}
               END AS pos, c
        FROM counts, (SELECT unnest(range(0, {_CMS_DEPTH})) AS d) dd
      ) GROUP BY d, pos
    ),
    top AS (
      SELECT tok, c, h FROM counts ORDER BY c DESC, tok LIMIT {_CMS_TOPK}
    ),
    probes AS (
      SELECT t.tok, t.c, dd.d, CASE dd.d
             {" ".join(f"WHEN {d} THEN {_cms_pos('t.h', d)}" for d in range(_CMS_DEPTH))}
             END AS pos
      FROM top t, (SELECT unnest(range(0, {_CMS_DEPTH})) AS d) dd
    )
    SELECT p.tok, p.c AS exact_c,
           min(cl.cell)::BIGINT            AS cms_est,
           (min(cl.cell) - p.c)::BIGINT    AS overcount
    FROM probes p JOIN cells cl ON p.d = cl.d AND p.pos = cl.pos
    GROUP BY p.tok, p.c
    """,
    tags=("llm", "sketch", "frequency"),
)
def cms_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with an exact-vs-estimate audit: build a 4×1024
    integer sketch of corpus token frequencies, then read back the 20
    most frequent tokens and report exact count, CMS estimate, and the
    (always ≥ 0) overcount. The sketch is built from the per-token count
    table — cell-identical to streaming per-occurrence inserts, but one
    vocabulary-sized pass instead of a corpus-sized one. The grid is
    CONSTANT-size (4096 int64 cells) whatever the corpus: cells are
    mergeable sums, so 1000 executors combine partial sketches without a
    second data pass — the sketch answers any token's frequency within
    εN without storing the vocabulary. Probe joins have broadcast-sized
    inputs on both sides (20 tokens × 4 probes vs 4096 cells)."""
    tok = _docs_with_tokens(spark, sf_dir).select(
        F.explode("toks").alias("tok")
    )
    counts = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("h", F.expr(tok_hash_expr("tok", dialect="spark")))
    )
    cells = (
        counts.select(
            "c",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.expr(_cms_pos("h", d)).alias("pos"),
                        )
                        for d in range(_CMS_DEPTH)
                    ]
                )
            ).alias("dp"),
        )
        .groupBy("dp.d", "dp.pos")
        .agg(F.sum("c").alias("cell"))
    )
    top = counts.orderBy(F.col("c").desc(), "tok").limit(_CMS_TOPK)
    probes = top.select(
        "tok",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.expr(_cms_pos("h", d)).alias("pos"),
                    )
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("dp"),
    ).select("tok", "c", "dp.d", "dp.pos")
    return (
        F.broadcast(probes)
        .join(cells, ["d", "pos"])
        .groupBy("tok", "c")
        .agg(F.min("cell").alias("cms_min"))
        .select(
            "tok",
            F.col("c").alias("exact_c"),
            F.col("cms_min").cast("long").alias("cms_est"),
            (F.col("cms_min") - F.col("c")).cast("long").alias("overcount"),
        )
    )


# --- q179: leakage-safe split ----------------------------------------------


@query(
    "q179_leakage_safe_split",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id,
             sha256(lower(trim(text))) AS content_hash
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, content_hash,
             {tok_hash_expr("content_hash", dialect="duckdb")} % 100 AS bucket
      FROM hashed
    )
    SELECT doc_id, content_hash,
           bucket::BIGINT AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           (count(*) OVER (PARTITION BY content_hash))::BIGINT AS group_size
    FROM keyed
    """,
    tags=("llm", "split", "dedup"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group-aware train/val/test split: the split key is the
    portable hash of the CONTENT hash (the exact-dedup group key), not
    the doc id — so byte-identical duplicates land in the same split by
    construction and can never leak train text into test. 80/10/10 via
    bucket = hash % 100. Differs from q91 (doc-keyed split): here the
    unit of assignment is the dedup group. Map-only except the window
    that reports group_size (one shuffle on content_hash — the same key
    exact dedup shuffles on anyway). Deterministic: re-running on a
    grown corpus never reassigns an existing group."""
    hashed = table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("content_hash")
    )
    keyed = hashed.withColumn(
        "bucket",
        (F.expr(tok_hash_expr("content_hash", dialect="spark")) % 100).cast(
            "long"
        ),
    )
    wg = W.partitionBy("content_hash")
    return keyed.select(
        "doc_id",
        "content_hash",
        "bucket",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
        F.count(F.lit(1)).over(wg).cast("long").alias("group_size"),
    )


_RRF_K = 60
_RRF_LEG_N = 100
_RRF_TOP = 10


@query(
    "q199_hybrid_search_rrf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    dls AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dls
    ),
    tfs AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tfs GROUP BY tok),
    bm25 AS (
      SELECT t.doc_id, sum({{score}})::BIGINT AS bm25_mu
      FROM tfs t JOIN dfs USING (tok) JOIN dls USING (doc_id) CROSS JOIN stats
      GROUP BY t.doc_id
    ),
    bm25_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25_mu DESC, doc_id) AS rk
      FROM (SELECT * FROM bm25 ORDER BY bm25_mu DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             {{cos}} AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
    ),
    cos_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rk
      FROM (SELECT * FROM cos ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             (coalesce(1000000 // ({_RRF_K} + b.rk), 0)
              + coalesce(1000000 // ({_RRF_K} + c.rk), 0))::BIGINT AS rrf_mu,
             b.rk AS bm25_rank, c.rk AS cos_rank
      FROM bm25_top b FULL JOIN cos_top c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, rrf_mu, bm25_rank, cos_rank
    FROM fused ORDER BY rrf_mu DESC, doc_id LIMIT {_RRF_TOP}
    """.replace("{score}", _bm25_score_expr(dialect="duckdb")).replace(
        "{cos}", "round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)"
    ),
    tags=("llm", "retrieval", "hybrid", "rrf"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical leg
    (q176's scorer) and the dense cosine leg (q72's query vector) each
    produce a top-100 candidate list via TakeOrderedAndProject, ranks are
    assigned WITHIN those ≤100-row lists (the two-stage shape — global
    rank assignment over the corpus would be q92's unpartitioned-window
    trap; after per-leg top-k reduction the window input is bounded by
    the leg size, not the corpus), and RRF fuses them:
    Σ 1000000 div (60 + rank) — integer-exact, no float fusion. Docs on
    one leg only still score (missing leg contributes 0), which is the
    point of RRF: lexical-only and semantic-only hits compete on rank,
    not on incomparable raw scores."""
    from kinesis_customer_sample_spark.functions import cosine_expr
    from kinesis_customer_sample_spark.queries.similarity import _QUERY_VEC_ID

    bm25 = (
        _bm25_doc_scores(spark, sf_dir)
        .select("doc_id", "bm25_mu")
        .orderBy(F.col("bm25_mu").desc(), "doc_id")
        .limit(_RRF_LEG_N)
    )
    wb = W.orderBy(F.col("bm25_mu").desc(), "doc_id")
    bm25_top = bm25.select("doc_id", F.row_number().over(wb).alias("bm25_rank"))

    from kinesis_customer_sample_spark.catalog import table as _table

    emb = _table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
            F.col("embedding").alias("qv")
        )
    )
    cos = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(q)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(cosine_expr("embedding", "qv", dialect="spark")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_RRF_LEG_N)
    )
    wc = W.orderBy(F.col("cos_sim").desc(), "doc_id")
    cos_top = cos.select("doc_id", F.row_number().over(wc).alias("cos_rank"))

    fused = bm25_top.join(cos_top, "doc_id", "full").select(
        "doc_id",
        (
            F.coalesce(F.expr(f"1000000 div ({_RRF_K} + bm25_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 div ({_RRF_K} + cos_rank)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_mu"),
        F.col("bm25_rank").cast("long").alias("bm25_rank"),
        F.col("cos_rank").cast("long").alias("cos_rank"),
    )
    return fused.orderBy(F.col("rrf_mu").desc(), "doc_id").limit(_RRF_TOP)


# RBO (rank-biased overlap, p = 0.9, depth 100) tail weights in integer
# nano-units: TW[m] = round((1-p) * sum_{d=m..100} p^(d-1)/d * 1e9). A doc
# with leg ranks (ra, rb) enters the overlap at every depth
# d >= max(ra, rb), so RBO = sum over common docs of TW[max(ra, rb)] — the
# per-depth series reordered per doc and precomputed ONCE in Python, then
# embedded as the SAME integer constants in both dialects (no float power
# series is ever evaluated inside an engine).
_RBO_TW = [
    255842545, 155842545, 110842545, 83842545, 65617545, 52495545, 42654045,
    35062031, 29083320, 24300351, 20426146, 17256342, 14641253, 12468718,
    10653100, 9127981, 7841161, 6751149, 5824639, 5034667, 4359241,
    3780305, 3282946, 2854785, 2485495, 2166430, 1890315, 1651016,
    1443338, 1262873, 1105869, 969123, 849898, 745847, 654956,
    575490, 505958, 445071, 391714, 344924, 303866, 267815,
    236142, 208299, 183810, 162259, 143285, 126572, 111844,
    98859, 87406, 77300, 68380, 60504, 53546, 47398,
    41964, 37159, 32909, 29149, 25821, 22875, 20266,
    17956, 15909, 14095, 12487, 11062, 9798, 8677,
    7682, 6800, 6017, 5321, 4704, 4156, 3669,
    3237, 2852, 2511, 2208, 1938, 1698, 1485,
    1295, 1127, 977, 843, 724, 619, 525,
    441, 366, 300, 241, 188, 142, 100,
    63, 30,
]


@query(
    "q236_rbo_rank_agreement",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    dls AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dls
    ),
    tfs AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tfs GROUP BY tok),
    bm25 AS (
      SELECT t.doc_id, sum({{score}})::BIGINT AS bm25_mu
      FROM tfs t JOIN dfs USING (tok) JOIN dls USING (doc_id) CROSS JOIN stats
      GROUP BY t.doc_id
    ),
    bm25_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25_mu DESC, doc_id) AS ra
      FROM (SELECT * FROM bm25 ORDER BY bm25_mu DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id, {{cos}} AS cos_sim
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
    ),
    cos_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rb
      FROM (SELECT * FROM cos ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    common AS (
      SELECT b.doc_id, greatest(ra, rb) AS m
      FROM bm25_top b JOIN cos_top c ON b.doc_id = c.doc_id
    )
    SELECT count(*)::BIGINT AS n_common,
           coalesce(sum(([255842545, 155842545, 110842545, 83842545, 65617545, 52495545, 42654045, 35062031, 29083320, 24300351, 20426146, 17256342, 14641253, 12468718, 10653100, 9127981, 7841161, 6751149, 5824639, 5034667, 4359241, 3780305, 3282946, 2854785, 2485495, 2166430, 1890315, 1651016, 1443338, 1262873, 1105869, 969123, 849898, 745847, 654956, 575490, 505958, 445071, 391714, 344924, 303866, 267815, 236142, 208299, 183810, 162259, 143285, 126572, 111844, 98859, 87406, 77300, 68380, 60504, 53546, 47398, 41964, 37159, 32909, 29149, 25821, 22875, 20266, 17956, 15909, 14095, 12487, 11062, 9798, 8677, 7682, 6800, 6017, 5321, 4704, 4156, 3669, 3237, 2852, 2511, 2208, 1938, 1698, 1485, 1295, 1127, 977, 843, 724, 619, 525, 441, 366, 300, 241, 188, 142, 100, 63, 30])[m]), 0)::BIGINT AS rbo_nano
    FROM common
    """.replace("{score}", _bm25_score_expr(dialect="duckdb")).replace(
        "{cos}",
        "round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 6)",
    ),
    tags=("llm", "retrieval", "evaluation", "rbo"),
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = 0.9, depth 100) between the lexical (BM25)
    and dense (cosine) retrieval legs — the standard top-weighted measure
    of how much two rankers agree, here quantifying lexical-vs-semantic
    divergence on the same corpus. Both legs are the q199 constructions
    (TakeOrderedAndProject top-100, ranks within the bounded lists); the
    RBO series is reorganized per common doc (contribution = tail weight
    of max(ra, rb)) and the tail weights are precomputed integer
    nano-units, so the score is exact integer arithmetic in both
    engines."""
    t = materialize(_docs_with_tokens(spark, sf_dir).select("doc_id", "toks"))
    tfs = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dls = t.select("doc_id", F.size("toks").alias("dl")).filter(F.col("dl") > 0)
    stats = F.broadcast(
        dls.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    )
    dfs = F.broadcast(tfs.groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    bm25 = (
        tfs.join(dfs, "tok")
        .join(dls, "doc_id")
        .crossJoin(stats)
        .select("doc_id", F.expr(_bm25_score_expr(dialect="spark")).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").cast("long").alias("bm25_mu"))
        .orderBy(F.col("bm25_mu").desc(), "doc_id")
        .limit(_RRF_LEG_N)
    )
    bm25_top = bm25.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25_mu").desc(), "doc_id"))
        .alias("ra"),
    )
    from kinesis_customer_sample_spark.catalog import table as _table
    from kinesis_customer_sample_spark.functions import cosine_expr
    from kinesis_customer_sample_spark.queries.similarity import _QUERY_VEC_ID

    emb = _table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
            F.col("embedding").alias("qv")
        )
    )
    cos = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(cosine_expr("embedding", "qv", dialect="spark")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_RRF_LEG_N)
    )
    cos_top = cos.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.col("cos_sim").desc(), "doc_id")).alias("rb"),
    )
    tw = F.array(*[F.lit(x) for x in _RBO_TW])
    common = bm25_top.join(cos_top, "doc_id").select(
        F.element_at(tw, F.greatest("ra", "rb").cast("int")).alias("w")
    )
    return common.agg(
        F.count(F.lit(1)).alias("n_common"),
        F.coalesce(F.sum("w"), F.lit(0)).cast("bigint").alias("rbo_nano"),
    )


_KMV_K = 64
_KMV_P = 1_000_000_007


def _kmv_hash(dialect: str) -> str:
    # element = (user, day) pair, serialized identically in both dialects
    key = (
        "'kmv-' || user_id::VARCHAR || '-' || day::VARCHAR"
        if dialect == "duckdb"
        else "'kmv-' || CAST(user_id AS STRING) || '-' || CAST(day AS STRING)"
    )
    # the polynomial fold leaves keys differing only in their final digit
    # as RUNS of consecutive hash values (h' * 31 + c, c a digit) — fatal
    # for an order-statistics sketch, which needs the small-value tail
    # uniform (observed: ~40% underestimate). One multiplicative post-mix
    # (Knuth constant, mod P) tears the runs apart: consecutive inputs
    # land ~2.65e9 mod P apart. Pure int64 arithmetic, identical text in
    # both dialects.
    return f"(({tok_hash_expr(key, dialect=dialect)}) * 2654435761 % 1000000007)"


@query(
    "q271_kmv_theta_set_ops",
    oracle=f"""
    WITH a AS (
      SELECT user_id, day, {_kmv_hash('duckdb')} AS h FROM (
        SELECT DISTINCT user_id, ts::DATE AS day
        FROM events WHERE event_type = 'purchase')
    ),
    b AS (
      SELECT user_id, day, {_kmv_hash('duckdb')} AS h FROM (
        SELECT DISTINCT user_id, ts::DATE AS day
        FROM events WHERE event_type = 'click')
    ),
    ka AS (SELECT max(h) AS hk FROM (SELECT h FROM a ORDER BY h LIMIT {_KMV_K})),
    kb AS (SELECT max(h) AS hk FROM (SELECT h FROM b ORDER BY h LIMIT {_KMV_K})),
    ku AS (SELECT max(h) AS hk FROM (
      SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) ORDER BY h LIMIT {_KMV_K})),
    exact AS (
      SELECT (SELECT count(*) FROM a)::BIGINT AS exact_a,
             (SELECT count(*) FROM b)::BIGINT AS exact_b,
             (SELECT count(*) FROM a JOIN b USING (user_id, day))::BIGINT
               AS exact_intersect
    )
    SELECT {_KMV_K}::BIGINT AS k,
           round(({_KMV_K} - 1) * {_KMV_P}::DOUBLE / ka.hk, 3) AS est_a,
           round(({_KMV_K} - 1) * {_KMV_P}::DOUBLE / kb.hk, 3) AS est_b,
           round(({_KMV_K} - 1) * {_KMV_P}::DOUBLE / ku.hk, 3) AS est_union,
           round(({_KMV_K} - 1) * {_KMV_P}::DOUBLE / ka.hk
                 + ({_KMV_K} - 1) * {_KMV_P}::DOUBLE / kb.hk
                 - ({_KMV_K} - 1) * {_KMV_P}::DOUBLE / ku.hk, 3) AS est_intersect,
           exact_a, exact_b, exact_intersect
    FROM ka, kb, ku, exact
    """,
    tags=("sketch", "distinct", "kmv", "set-ops"),
)
def kmv_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta distinct sketches with SET OPERATIONS — the capability
    HLL (q191) lacks: because a KMV sketch is just the k smallest hash
    values, sketches UNION by re-taking the k smallest of the combined
    sample (associative, shard-invariant — property-tested), and
    intersections estimate by inclusion-exclusion over the three thetas
    (Beyer et al. / the Theta Sketch framework). Estimator
    (k−1)·P/h_k is the classic unbiased KMV form; everything up to the
    final division is exact integer hashing (portable hash), so the
    sketch CONTENTS are bit-identical across engines and the driver
    hash-checks estimates AND exact reference counts side by side.
    At 100 TB: each sketch is a k-row TakeOrderedAndProject over the
    distinct-hash stream — per-partition partial k-mins merge on the
    driver-sized final heap, the same pattern as any top-k; the fixture
    regime (n > k) exercises the genuinely-approximate path."""
    ev = table(spark, sf_dir, "events")

    def sketch_side(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id", F.col("ts").cast("date").alias("day"))
            .distinct()
            .select(
                "user_id", "day", F.expr(_kmv_hash("spark")).alias("h")
            )
        )

    a, b = sketch_side("purchase"), sketch_side("click")

    def kth(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select("h")
            .orderBy("h")
            .limit(_KMV_K)
            .agg(F.max("h").alias(name))
        )

    ka = kth(a, "ha")
    kb = kth(b, "hb")
    ku = kth(a.select("h").union(b.select("h")).distinct(), "hu")
    exact = (
        a.select("user_id", "day")
        .join(b.select("user_id", "day"), ["user_id", "day"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersect"))
        .crossJoin(a.agg(F.count(F.lit(1)).cast("bigint").alias("exact_a")))
        .crossJoin(b.agg(F.count(F.lit(1)).cast("bigint").alias("exact_b")))
    )
    est = lambda hk: F.round(  # noqa: E731
        F.lit((_KMV_K - 1) * float(_KMV_P)) / F.col(hk), 3
    )
    return (
        ka.crossJoin(kb)
        .crossJoin(ku)
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(_KMV_K).cast("bigint").alias("k"),
            est("ha").alias("est_a"),
            est("hb").alias("est_b"),
            est("hu").alias("est_union"),
            F.round(
                F.lit((_KMV_K - 1) * float(_KMV_P)) / F.col("ha")
                + F.lit((_KMV_K - 1) * float(_KMV_P)) / F.col("hb")
                - F.lit((_KMV_K - 1) * float(_KMV_P)) / F.col("hu"),
                3,
            ).alias("est_intersect"),
            "exact_a",
            "exact_b",
            "exact_intersect",
        )
    )


_BOOL_T1, _BOOL_T2 = "spark", "fast"
_BOOL_TOPK = 20


@query(
    "q273_boolean_postings_and",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    postings AS (
      SELECT tok, doc_id, count(*)::BIGINT AS tf
      FROM tok WHERE tok IN ('{_BOOL_T1}', '{_BOOL_T2}')
      GROUP BY 1, 2
    )
    SELECT a.doc_id, a.tf AS tf_{_BOOL_T1}, b.tf AS tf_{_BOOL_T2},
           (a.tf + b.tf)::BIGINT AS score
    FROM postings a JOIN postings b USING (doc_id)
    WHERE a.tok = '{_BOOL_T1}' AND b.tok = '{_BOOL_T2}'
    ORDER BY score DESC, a.doc_id
    LIMIT {_BOOL_TOPK}
    """,
    tags=("retrieval", "inverted-index", "boolean"),
)
def boolean_postings_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean conjunctive retrieval (term1 AND term2) by POSTINGS-LIST
    intersection — the primitive under every search engine's AND query,
    and the third retrieval mode beside q176's ranked BM25 and q199's
    hybrid RRF. The inverted index materializes ONLY the two query terms'
    postings (the IN pushes into the tokenize scan's output before the
    per-doc agg), each term's list is |docs containing term| rows, and the
    AND is one equi-join on doc_id — co-partitioned by construction since
    both lists hash-partition on the same key. Conjunctive score = tf
    sum; top-20 via TakeOrderedAndProject. At 100 TB with a full
    vocabulary index the same plan serves any conjunction: per-term
    postings are the unit of storage AND of join parallelism."""
    tok = _docs_with_tokens(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    postings = (
        tok.filter(F.col("tok").isin(_BOOL_T1, _BOOL_T2))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    a = postings.filter(F.col("tok") == _BOOL_T1).select(
        "doc_id", F.col("tf").alias(f"tf_{_BOOL_T1}")
    )
    b = postings.filter(F.col("tok") == _BOOL_T2).select(
        "doc_id", F.col("tf").alias(f"tf_{_BOOL_T2}")
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            f"tf_{_BOOL_T1}",
            f"tf_{_BOOL_T2}",
            (F.col(f"tf_{_BOOL_T1}") + F.col(f"tf_{_BOOL_T2}"))
            .cast("bigint")
            .alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BOOL_TOPK)
    )


@query(
    "q328_positional_phrase_search",
    oracle=f"""
    WITH post AS (
      -- parallel unnests zip in DuckDB: token + its 1-based position
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks)))::BIGINT AS pos
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ),
    big AS (
      SELECT a.tok AS w1, b.tok AS w2, count(*) AS n
      FROM post a JOIN post b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
      ORDER BY n DESC, w1, w2
      LIMIT 1
    )
    SELECT p1.doc_id,
           (SELECT w1 FROM big) AS w1,
           (SELECT w2 FROM big) AS w2,
           count(*)::BIGINT AS n_occurrences,
           min(p1.pos)::BIGINT AS first_pos
    FROM post p1
    JOIN post p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
    WHERE p1.tok = (SELECT w1 FROM big) AND p2.tok = (SELECT w2 FROM big)
    GROUP BY p1.doc_id
    """,
    tags=("retrieval", "phrase-search", "positional-postings", "inverted-index"),
)
def positional_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — the inverted-index operator q273's
    boolean postings AND cannot express: a phrase "w1 w2" matches only
    where the two terms are ADJACENT, so postings carry positions and
    the match is an equi-join on (doc, pos+1 = pos). The probed phrase
    is data-derived (the corpus' most frequent bigram, ties broken
    lexicographically — deterministic) and emitted alongside each hit
    so the result is self-describing.

    Adjacency is a ROW-LOCAL property, so neither phase needs the
    positional-posting self-join of the oracle form: the per-doc bigram
    list is the token array zipped against itself shifted by one
    (arrays_zip of two slices — pure codegen), mining is one
    explode + hash-agg over that, and the probe phase is map-only —
    per-doc occurrence count via array_remove and first position via
    array_position on the same bigram array, no Generate, no join, no
    shuffle (guide §2.4: the cheapest shuffle is the one you don't do).
    The pair multiset equals the (pos, pos+1) adjacency join's by
    construction, and first_pos = the array_position of the first match.

    Scale posture (100 TB): bigram mining is one map pass + one
    count-shuffle at bigram grain (map-side combined); the probe phase
    is embarrassingly parallel. A term-partitioned postings engine
    would answer the probe from two lists; with the corpus already
    columnar, the row-local form touches each doc exactly once
    instead of shuffling two posting lists into a join."""
    docs = _docs_with_tokens(spark, sf_dir)
    bgs = F.arrays_zip(
        F.expr("slice(toks, 1, size(toks) - 1)").alias("w1"),
        F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
    )
    big = (
        docs.filter(F.size("toks") >= 2)
        .select(F.explode(bgs).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(1)
    )
    probe = big.first()  # bounded scalar probe (one job)
    w1, w2 = probe["w1"], probe["w2"]
    # tokens are [a-z]+ by the tokenizer's alphabet, safe as SQL literals
    target = f"named_struct('w1', '{w1}', 'w2', '{w2}')"
    return (
        docs.select("doc_id", bgs.alias("bgs"))
        .select(
            "doc_id",
            F.expr(f"size(bgs) - size(array_remove(bgs, {target}))")
            .cast("long")
            .alias("n_occurrences"),
            F.expr(f"array_position(bgs, {target})")
            .cast("long")
            .alias("first_pos"),
        )
        .filter(F.col("n_occurrences") > 0)
        .select(
            "doc_id",
            F.lit(w1).alias("w1"),
            F.lit(w2).alias("w2"),
            "n_occurrences",
            "first_pos",
        )
    )


_EMB_TEST_DAYS = 5  # test horizon: last 5 days before the corpus max day
_EMB_GAP_DAYS = 2  # embargo gap dropped between train and test


@query(
    "q353_temporal_embargo_split",
    oracle=f"""
    WITH anchor AS (SELECT max(date_trunc('day', ts)) AS amax FROM events),
    marked AS (
      SELECT event_type,
             CASE
               WHEN ts >= amax - INTERVAL {_EMB_TEST_DAYS} DAY THEN 'test'
               WHEN ts >= amax - INTERVAL {_EMB_TEST_DAYS + _EMB_GAP_DAYS} DAY
                 THEN 'embargo'
               ELSE 'train'
             END AS split,
             ts
      FROM events CROSS JOIN anchor
    )
    SELECT event_type, split,
           count(*)::BIGINT AS n,
           min(date_trunc('day', ts)) AS first_day,
           max(date_trunc('day', ts)) AS last_day
    FROM marked GROUP BY event_type, split
    """,
    tags=("ml-prep", "split", "embargo", "leakage-safe", "temporal"),
)
def temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split WITH EMBARGO — the time-series form of
    leakage-safe splitting (q179 blocks by entity; this blocks by time):
    the last 5 days are test, the 2 days before them are DROPPED
    (embargoed) so that features computed over trailing windows in train
    can never overlap a test label's lookback — the purged-CV rule from
    financial ML, equally binding for any pipeline whose features are
    rolling aggregates. Split boundaries anchor to the corpus's own max
    day, so the split is reproducible from data alone.

    Scale posture (100 TB): the anchor is a 1-row broadcast (one
    column-pruned scan of ts); the assignment is a pure map; the audit
    rollup is one hash agg. The split column would be written back as a
    partition column, making each split's read partition-pruned."""
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    anchor = ev.agg(F.date_trunc("day", F.max(F.date_trunc("day", "ts"))).alias("amax"))
    marked = ev.crossJoin(F.broadcast(anchor)).withColumn(
        "split",
        F.when(
            F.col("ts") >= F.col("amax") - F.expr(f"INTERVAL {_EMB_TEST_DAYS} DAYS"),
            F.lit("test"),
        )
        .when(
            F.col("ts")
            >= F.col("amax") - F.expr(f"INTERVAL {_EMB_TEST_DAYS + _EMB_GAP_DAYS} DAYS"),
            F.lit("embargo"),
        )
        .otherwise(F.lit("train")),
    )
    return marked.groupBy("event_type", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.date_trunc("day", F.min("ts")).cast("timestamp_ntz").alias("first_day"),
        F.date_trunc("day", F.max("ts")).cast("timestamp_ntz").alias("last_day"),
    )


# q422 (round 7): trigram wildcard-search index — how a substring query
# ('%needle%', which no B-tree or prefix index can serve) runs without a
# full-corpus LIKE scan.
_TRI_NEEDLE = "scan slow fast"


@query(
    "q422_trigram_substring_search",
    oracle=f"""
    SELECT doc_id, n_chars
    FROM documents
    WHERE contains(lower(text), '{_TRI_NEEDLE}')
    ORDER BY doc_id
    """,
    tags=("retrieval", "trigram", "substring", "index"),
)
def trigram_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search via a trigram posting index — the pg_trgm /
    code-search-engine pattern: a doc can contain the needle only if it
    contains EVERY trigram of the needle (lossless necessary condition),
    so candidates = docs whose distinct-trigram postings cover the
    needle's trigram set, and only candidates pay the exact `contains`
    verify. The oracle is the brute LIKE scan; equality is the
    covering-set theorem, not luck.

    Scale posture: at 100 TB the posting set is a MATERIALIZED index
    partitioned by trigram and the probe reads only the needle's ~13
    trigram partitions; recomputing postings per query is NOT that plan,
    so the ad-hoc form keeps the covering check but runs it ROW-LOCAL:
    a doc covers the needle's trigram set iff it `contains` every
    needle trigram — ~13 map-side substring probes — and only covering
    docs pay the exact full-needle `contains` verify. Zero shuffles
    before the output sort. (The former explode → posting shuffle →
    covering hash-agg → broadcast-join-back shape shuffled a posting
    row per (doc, needle-trigram) hit and scanned the persisted doc
    text twice; an r15 variant that materialized the doc's trigram
    ARRAY per row for an array_intersect covering test measured 3×
    slower than the explode shape — allocation-bound — while the
    contains form is allocation-free. Guide §2.4: the covering decision
    is doc-local, so no exchange is fundamentally required.)"""
    tris = sorted({_TRI_NEEDLE[i : i + 3] for i in range(len(_TRI_NEEDLE) - 2)})
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t"), "n_chars"
    )
    covering = None
    for t in tris:
        probe = F.expr("contains(t, '" + t.replace("'", "\\'") + "')")
        covering = probe if covering is None else (covering & probe)
    return (
        docs.filter(covering)
        .filter(F.expr(f"contains(t, '{_TRI_NEEDLE}')"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )
