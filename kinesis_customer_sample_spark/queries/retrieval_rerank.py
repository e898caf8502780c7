"""Maximal Marginal Relevance (MMR) diversity re-ranking — round-3 wave
(SURVEY.md §2B retrieval rows): the greedy select-for-relevance-minus-
redundancy loop every RAG/retrieval stack runs between ANN recall and the
context window.

Scale posture (100 TB): MMR's cost structure is candidates², NOT corpus² —
the corpus appears only in the top-N candidate leg (TakeOrderedAndProject,
q72's shape). The candidate set (N=20) and its pairwise similarity table
(N²=400 µ-unit integers) are constants of the operator, collected to the
driver ONCE; the K=5 greedy rounds then run as a local loop over those
constants (2 Spark jobs total — nothing corpus-sized ever revisits the
driver, and no per-round scheduler round-trips).

Cross-engine exactness: relevance and pairwise similarity are cosine
rounded to µ-units THEN treated as integers, and the MMR score is
7·rel_µ − 3·max_sim_µ (λ = 0.7 in tenths) — pure int64 with a total
(score desc, doc_id) tiebreak, so the greedy trajectory cannot diverge.
The oracle unrolls the identical five rounds in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import cosine_expr
from kinesis_customer_sample_spark.queries.similarity import _QUERY_VEC_ID
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_N_CAND = 20
_K = 5
_LAM7, _LAM3 = 7, 3  # lambda = 0.7 in tenths


def _duck_round(i: int) -> str:
    prior = ", ".join(f"(SELECT doc_id FROM sel{j})" for j in range(1, i))
    if i == 1:
        return """
    sel1 AS (
      SELECT doc_id, rel_mu FROM cand
      ORDER BY rel_mu DESC, doc_id LIMIT 1
    )"""
    return f"""
    rem{i} AS (
      SELECT c.doc_id, c.rel_mu, max(s.sim_mu) AS max_sim_mu
      FROM cand c
      JOIN sims s ON s.a = c.doc_id AND s.b IN ({prior})
      WHERE c.doc_id NOT IN ({prior})
      GROUP BY c.doc_id, c.rel_mu
    ),
    sel{i} AS (
      SELECT doc_id, rel_mu FROM rem{i}
      ORDER BY {_LAM7} * rel_mu - {_LAM3} * max_sim_mu DESC, doc_id
      LIMIT 1
    )"""


@query(
    "q244_mmr_rerank",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id AS doc_id,
             CAST(round({{cos_q}} * 1000000) AS BIGINT) AS rel_mu,
             e.embedding AS emb
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != {_QUERY_VEC_ID}
        -- zero-norm guard, mirroring the Spark body's rel_mu IS NOT NULL
        -- filter: Spark's cosine is NULL on a zero vector (x/0 -> NULL)
        -- while DuckDB's list_cosine_similarity returns a finite value,
        -- so a degenerate fixture vector would diverge without this
        AND list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
        AND list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]) > 0
    ),
    cand AS (
      SELECT doc_id, rel_mu, emb FROM scored
      ORDER BY rel_mu DESC, doc_id LIMIT {_N_CAND}
    ),
    sims AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(round({{cos_ab}} * 1000000) AS BIGINT) AS sim_mu
      FROM cand a JOIN cand b ON a.doc_id != b.doc_id
    ),
    {",".join(_duck_round(i) for i in range(1, _K + 1))}
    {" UNION ALL ".join(f"SELECT {i} AS pick, doc_id, rel_mu FROM sel{i}" for i in range(1, _K + 1))}
    """.replace(
        "{cos_q}",
        "round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[])::DOUBLE, 9)",
    ).replace(
        "{cos_ab}",
        "round(list_cosine_similarity(a.emb::DOUBLE[], b.emb::DOUBLE[])::DOUBLE, 9)",
    ),
    tags=("llm", "retrieval", "rerank", "mmr", "iterative"),
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR re-ranking of the top-20 cosine candidates: pick 5 docs
    maximizing 7·relevance_µ − 3·max-similarity-to-already-picked_µ
    (λ = 0.7), with a total (score, doc_id) tiebreak — diversity-aware
    selection in exact integer µ-units. Candidate recall is the corpus
    pass (TakeOrderedAndProject); the 20-row candidate table and its
    400-cell pairwise similarity table are collected once and the greedy
    loop runs driver-side over those constants (2 Spark jobs total, not
    K sequential argmax jobs)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
            F.col("embedding").alias("qv")
        )
    )
    rel_mu = F.expr(
        f"CAST(round({cosine_expr('embedding', 'qv', dialect='spark', digits=9)} * 1000000) AS BIGINT)"
    )
    cand = materialize(
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(qv)
        .select(F.col("vec_id").alias("doc_id"), rel_mu.alias("rel_mu"), "embedding")
        # zero-norm embeddings make the cosine NULL; the distributed argmax
        # ignored them (desc sort is nulls-last), so the driver-side greedy
        # must exclude them too — int(None) would TypeError (r8 advice).
        .filter(F.col("rel_mu").isNotNull())
        .orderBy(F.desc("rel_mu"), "doc_id")
        .limit(_N_CAND)
    )
    a = cand.select(
        F.col("doc_id").alias("a"), F.col("rel_mu").alias("rel_a"), F.col("embedding").alias("ea")
    )
    b = cand.select(F.col("doc_id").alias("b"), F.col("embedding").alias("eb"))
    sim_mu = F.expr(
        f"CAST(round({cosine_expr('ea', 'eb', dialect='spark', digits=9)} * 1000000) AS BIGINT)"
    )
    sims = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", sim_mu.alias("sim_mu"))
        # candidates already have non-NULL rel_mu (non-degenerate vectors),
        # so pairwise cosines are non-NULL by construction; keep the guard
        # anyway so a fixture change degrades like the old F.max path
        # (NULL pair ignored) instead of TypeError-ing in int().
        .filter(F.col("sim_mu").isNotNull())
    )
    # collect the constant-size operator state ONCE (20 candidate rows +
    # 380 pairwise sims — both bounded by _N_CAND, never corpus-sized) and
    # run the greedy argmax in the driver: 1 corpus job + 1 tiny sims job
    # instead of K sequential Spark jobs (r7 verdict polish item). The
    # µ-unit integers collected are the exact values the distributed loop
    # compared, so the trajectory is bit-identical.
    rel = {int(r["doc_id"]): int(r["rel_mu"]) for r in cand.select("doc_id", "rel_mu").collect()}
    sim = {(int(r["a"]), int(r["b"])): int(r["sim_mu"]) for r in sims.collect()}
    picks: list[tuple[int, int, int]] = []
    selected: list[int] = []
    for i in range(1, _K + 1):
        if not selected:
            doc = min(rel, key=lambda d: (-rel[d], d))
        else:
            remaining = [d for d in rel if d not in selected]
            doc = min(
                remaining,
                key=lambda d: (
                    # missing pair = NULL cosine filtered above; the old
                    # distributed F.max ignored NULLs, so skip it here too
                    # (default only fires if every pair was degenerate).
                    -(
                        _LAM7 * rel[d]
                        - _LAM3
                        * max(
                            (sim[(d, s)] for s in selected if (d, s) in sim),
                            default=0,
                        )
                    ),
                    d,
                ),
            )
        picks.append((i, doc, rel[doc]))
        selected.append(doc)
    return spark.createDataFrame(picks, "pick int, doc_id bigint, rel_mu bigint")


# ---- q481: Borda rank aggregation across rankers --------------------------
from pyspark.sql import Window as _W

from kinesis_customer_sample_spark.registry import query as _query
from kinesis_customer_sample_spark.catalog import table as _table


@_query(
    "q481_borda_rank_fusion",
    oracle="""
    WITH metrics AS (
      SELECT p.p_brand,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT))::BIGINT AS revenue_c,
             CAST(round(sum(l.l_quantity)) AS BIGINT) AS qty,
             count(DISTINCT l.l_orderkey)::BIGINT AS n_orders
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    ranked AS (
      SELECT p_brand, revenue_c, qty, n_orders,
             row_number() OVER (ORDER BY revenue_c DESC, p_brand) AS r_rev,
             row_number() OVER (ORDER BY qty DESC, p_brand) AS r_qty,
             row_number() OVER (ORDER BY n_orders DESC, p_brand) AS r_ord,
             count(*) OVER () AS k
      FROM metrics
    )
    SELECT p_brand,
           r_rev::BIGINT AS rank_revenue,
           r_qty::BIGINT AS rank_quantity,
           r_ord::BIGINT AS rank_orders,
           (3 * k - r_rev - r_qty - r_ord)::BIGINT AS borda_score,
           row_number() OVER (ORDER BY (3 * k - r_rev - r_qty - r_ord) DESC,
                              p_brand)::BIGINT AS final_rank,
           (greatest(r_rev, r_qty, r_ord) - least(r_rev, r_qty, r_ord))::BIGINT
             AS rank_spread
    FROM ranked
    ORDER BY final_rank
    """,
    tags=("retrieval", "rank-aggregation", "borda", "fusion"),
)
def borda_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda-count rank aggregation — the positional cousin of q199's RRF:
    three independent rankers order the brand universe (by net revenue,
    by shipped quantity, by distinct-order breadth), each assigns K-r
    points at rank r, and the fused ranking maximizes total points. RRF
    rewards appearing ANYWHERE near the top of any list; Borda weights
    every position linearly, the right fusion when rankers cover the
    full universe (leaderboards, vendor scorecards) rather than top-k
    retrieval. rank_spread (max-min across rankers) flags the entities
    the rankers disagree on — the review queue.

    Determinism: all three metrics are exact integers (cent-quantized
    revenue, rounded quantity, distinct count); ranks are row_number
    with the (metric DESC, brand) total tiebreak; the Borda score is
    pure integer arithmetic. No float anywhere, not even at the end.

    Scale posture (100 TB): one fact-dim broadcast join + hash-agg down
    to the |brands| universe; the three rank windows and the final-rank
    window run over that dimension-sized table (the unpartitioned
    windows are over |entities| rows by construction — rank aggregation
    is defined on the entity universe, which is bounded; for an
    unbounded universe the q92 two-level bucket-rank pattern applies)."""
    metrics = (
        _table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(_table(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("revenue_c"),
            F.round(F.sum("l_quantity")).cast("bigint").alias("qty"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
    )
    ranked = metrics.select(
        "p_brand",
        F.row_number()
        .over(_W.orderBy(F.col("revenue_c").desc(), "p_brand"))
        .alias("r_rev"),
        F.row_number().over(_W.orderBy(F.col("qty").desc(), "p_brand")).alias("r_qty"),
        F.row_number()
        .over(_W.orderBy(F.col("n_orders").desc(), "p_brand"))
        .alias("r_ord"),
        F.count(F.lit(1)).over(_W.partitionBy()).alias("k"),
    )
    return ranked.select(
        "p_brand",
        F.col("r_rev").cast("bigint").alias("rank_revenue"),
        F.col("r_qty").cast("bigint").alias("rank_quantity"),
        F.col("r_ord").cast("bigint").alias("rank_orders"),
        F.expr("3 * k - r_rev - r_qty - r_ord").cast("bigint").alias("borda_score"),
        F.row_number()
        .over(_W.orderBy(F.expr("3 * k - r_rev - r_qty - r_ord").desc(), "p_brand"))
        .cast("bigint")
        .alias("final_rank"),
        F.expr("greatest(r_rev, r_qty, r_ord) - least(r_rev, r_qty, r_ord)")
        .cast("bigint")
        .alias("rank_spread"),
    ).orderBy("final_rank")
