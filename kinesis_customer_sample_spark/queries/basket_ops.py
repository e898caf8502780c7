"""Market-basket association rules (SURVEY.md §2B): pairwise frequent
itemsets with support / confidence / lift over order baskets — the classic
retail co-occurrence operator (Apriori's k=2 join), distinct from q122's
token-pair PMI (different domain — transactions, not token streams — and
different metrics: directional confidence + min-support pruning, the
rule-mining vocabulary).

Determinism: every metric is a ratio of exact integer counts, divided
once and rounded; the top-50 ordering key (lift, then n_both, then the
pair ids) is therefore identical doubles in both engines with an integer
total tiebreak.

Scale posture (100 TB): the pair generation is a within-basket self-join
— keyed on the basket id, so it shuffles each basket once and fans out
C(|basket|, 2) pairs map-side after co-location. Basket size is bounded
by business reality (line items per order), which bounds the fan-out per
key; a pathological mega-basket would be the q68 DF-cap situation and
gets the same remedy (cap or salt the hot basket). Item supports are a
broadcast-sized dimension (|parts|), and the final top-50 is
TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_MIN_BOTH = 2  # min-support: pair must co-occur in ≥2 baskets
_TOPK = 50


@query(
    "q308_association_rules",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem
    ),
    n AS (SELECT count(DISTINCT bid) AS n_baskets FROM items),
    isup AS (SELECT item, count(*) AS n_item FROM items GROUP BY item),
    pairs AS (
      SELECT a.item AS part_a, b.item AS part_b, count(*) AS n_both
      FROM items a JOIN items b ON a.bid = b.bid AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING count(*) >= {_MIN_BOTH}
    )
    SELECT part_a::BIGINT AS part_a, part_b::BIGINT AS part_b,
           n_both::BIGINT AS n_both,
           sa.n_item::BIGINT AS n_a, sb.n_item::BIGINT AS n_b,
           round(n_both::DOUBLE / n.n_baskets, 6) AS support,
           round(n_both::DOUBLE / sa.n_item, 6) AS conf_a_to_b,
           round(n_both::DOUBLE / sb.n_item, 6) AS conf_b_to_a,
           round(CAST(n.n_baskets * n_both AS DOUBLE)
                 / CAST(sa.n_item * sb.n_item AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN isup sa ON sa.item = part_a
    JOIN isup sb ON sb.item = part_b
    CROSS JOIN n
    ORDER BY lift DESC, n_both DESC, part_a, part_b
    LIMIT {_TOPK}
    """,
    tags=("basket", "association-rules", "apriori", "retail"),
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 association rules by lift over order baskets: distinct
    (order, part) items, a basket-keyed self-join generating co-occurring
    pairs (a < b), min-support pruning at the pair count, then
    support / directional confidence / lift from exact integer counts
    against broadcast item-support and basket-count scalars. Lift > 1
    flags genuinely associated parts; the two confidences give the rule
    directions. Ordering is (lift, n_both, pair) — identical doubles both
    engines because every ratio divides the same exact integers."""
    items = materialize(  # one distinct pass feeds count, supports, pairs
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("bid"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    n_baskets = items.select("bid").distinct().count()  # broadcast scalar
    isup = items.groupBy("item").agg(F.count("*").alias("n_item"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, (F.col("a.bid") == F.col("b.bid")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("part_a"), F.col("b.item").alias("part_b"))
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= _MIN_BOTH)
    )
    sa = isup.select(F.col("item").alias("part_a"), F.col("n_item").alias("n_a"))
    sb = isup.select(F.col("item").alias("part_b"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .select(
            F.col("part_a").cast("bigint").alias("part_a"),
            F.col("part_b").cast("bigint").alias("part_b"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("n_both").cast("double") / n_baskets, 6).alias("support"),
            F.round(F.col("n_both").cast("double") / F.col("n_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_both").cast("double") / F.col("n_b"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                (F.lit(n_baskets) * F.col("n_both")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.desc("n_both"), "part_a", "part_b"
    ).limit(_TOPK)


# item-item CF dials: popularity cap (hot items prune, the q360 df-cap
# discipline), minimum co-occurrence support, top-N output
_CF_POP_CAP = 200
_CF_MIN_CO = 3
_CF_TOPN = 25


@query(
    "q396_item_item_jaccard_cf",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pop AS (
      SELECT i, count(*)::BIGINT AS c FROM baskets GROUP BY 1
      HAVING count(*) <= {_CF_POP_CAP}
    ),
    kept AS (SELECT b.u, b.i FROM baskets b JOIN pop USING (i)),
    co AS (
      SELECT a.i AS i1, b.i AS i2, count(*)::BIGINT AS c12
      FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
      GROUP BY 1, 2
      HAVING count(*) >= {_CF_MIN_CO}
    )
    SELECT co.i1, co.i2, co.c12,
           p1.c AS c1, p2.c AS c2,
           (co.c12 * 10000 // (p1.c + p2.c - co.c12))::BIGINT AS jaccard_bp
    FROM co
    JOIN pop p1 ON p1.i = co.i1
    JOIN pop p2 ON p2.i = co.i2
    ORDER BY jaccard_bp DESC, co.c12 DESC, co.i1, co.i2
    LIMIT {_CF_TOPN}
    """,
    tags=("recommender", "collaborative-filtering", "jaccard", "similarity-join"),
)
def item_item_jaccard_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering with Jaccard similarity — the
    co-occurrence recommender ("customers who bought X also bought Y"):
    binary user×item baskets, co-occurrence counted through a user-keyed
    self-join, and similarity = c12/(c1+c2−c12) — an EXACT integer
    rational in basis points, so unlike cosine no sqrt ever runs.
    Min-support prunes noise pairs; the popularity cap bounds every
    user-join fan-in exactly as q360's df-cap does (a mega-popular item
    would pair with everything and recommend nothing).

    Scale posture (100 TB): candidate volume ≤ cap·Σ per-item count
    (corpus-linear); the self-join shuffles once on the user key,
    co-counts combine map-side, and the final top-N is
    TakeOrderedAndProject. This is the batch half of every
    "similar items" service; the ANN family (q99/q121) serves the
    embedding half."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    baskets = materialize(  # feeds the popularity count and both pair sides
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    pop = (
        baskets.groupBy("i")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _CF_POP_CAP)
    )
    kept = baskets.join(pop.select("i"), "i")
    a = kept.select(F.col("u"), F.col("i").alias("i1"))
    b = kept.select(F.col("u"), F.col("i").alias("i2"))
    co = (
        a.join(b, "u")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= _CF_MIN_CO)
    )
    return (
        co.join(pop.select(F.col("i").alias("i1"), F.col("c").alias("c1")), "i1")
        .join(pop.select(F.col("i").alias("i2"), F.col("c").alias("c2")), "i2")
        .select(
            "i1",
            "i2",
            "c12",
            "c1",
            "c2",
            F.expr("c12 * 10000 div (c1 + c2 - c12)")
            .cast("bigint")
            .alias("jaccard_bp"),
        )
        .orderBy(F.desc("jaccard_bp"), F.desc("c12"), "i1", "i2")
        .limit(_CF_TOPN)
    )
