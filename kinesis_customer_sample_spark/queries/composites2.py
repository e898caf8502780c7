"""Second wave of composite analytics + sampling operators.

Registered LAST on purpose: these are new this round, and the driver walks
the registry front-to-back — proven-green families should not be displaced
by additions (queries/__init__.py ordering contract).

- q102: TPC-H Q7 shape (two-nation volume shipping) — nested fact joins
  with a symmetric nation predicate.
- q103: TPC-H Q21 shape (waiting suppliers) — EXISTS / NOT-EXISTS over the
  same fact table, expressed as semi + anti joins. The test tables carry no
  l_receiptdate/l_commitdate, so "late" is l_shipdate > o_orderdate + 60
  days (same join topology, different lateness predicate).
- q104: weighted priority sampling (Duffield-Lund-Thorup) — deterministic
  via the portable hash; only IEEE mul/div (correctly rounded in every
  engine, unlike pow/ln), so the top-k selection is bit-identical in Spark
  and DuckDB and the query hash-matches.
- q105: ORC sink round-trip — Spark's second first-class columnar format;
  the oracle states the expected values from the parquet source, so the
  hash check proves the ORC write→read is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as WINDOW
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import (
    MOD_P,
    duck_fixed_sum,
    fixed_sum,
    tok_hash_expr,
)
from kinesis_customer_sample_spark.queries import pipeline_ops  # noqa: F401  registers q90
from kinesis_customer_sample_spark.registry import REGISTRY, query
from kinesis_customer_sample_spark.scope import materialize, scratch

_LATE_DAYS = 60


@query(
    "q102_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {duck_fixed_sum("volume", scale=4)} AS revenue,
           count(*)::BIGINT      AS n_items
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate)::BIGINT AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("relational", "join", "composite", "tpch-q7"),
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year, in both
    directions. The nation dimension broadcasts twice under different
    aliases; the symmetric predicate lands as a join-level filter after
    both broadcasts, so the fact tables shuffle only on their join keys —
    the sole plan that survives when lineitem is 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = F.broadcast(table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")))
    pair = (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19") | (
        (F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18")
    )
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            fixed_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q103_waiting_suppliers",
    oracle=f"""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
    )
    SELECT s_name, count(*)::BIGINT AS numwait
    FROM late l1
    JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("relational", "join", "semi", "anti", "composite", "tpch-q21"),
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
    multi-supplier finished order. EXISTS → left-semi join, NOT EXISTS →
    left-anti join, both equi-keyed on l_orderkey with the supplier
    inequality as the join residual — Catalyst keeps them shuffle-hash/
    sort-merge on the order key, never a cartesian. The `late` subtree is
    computed once and reused for both l1 and l3 (the oracle CTE mirrors
    it)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), _LATE_DAYS))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.join(
        o.filter(F.col("o_orderstatus") == "F"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    only_late = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    s = F.broadcast(table(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        only_late.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


_SAMPLE_K = 50


@query(
    "q104_weighted_priority_sample",
    oracle=f"""
    WITH prio AS (
      SELECT doc_id, lang, n_chars,
             n_chars::DOUBLE * {MOD_P} /
               ({tok_hash_expr("'prio-' || doc_id::VARCHAR", dialect="duckdb")} + 1)
               AS priority
      FROM documents
    )
    SELECT doc_id, lang, n_chars::BIGINT AS weight, round(priority, 4) AS priority
    FROM prio
    ORDER BY priority DESC, doc_id
    LIMIT {_SAMPLE_K}
    """,
    tags=("sampling", "weighted", "porthash"),
)
def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via priority sampling
    (Duffield-Lund-Thorup): priority = w/u with u = (hash+1)/P uniform in
    (0,1], keep the top-k priorities — inclusion probability ∝ weight,
    deterministic across engines and reruns (training-data lineage
    requirement, same rationale as q91/q100). The arithmetic is ONLY IEEE
    multiply/divide — correctly rounded everywhere, unlike pow/ln-based
    reservoir keys, so the top-k boundary is bit-identical in Spark and
    DuckDB. Map-only scoring + TakeOrderedAndProject: no shuffle of the
    corpus, k rows to the driver."""
    d = table(spark, sf_dir, "documents")
    h = tok_hash_expr(
        chr(39) + "prio-" + chr(39) + " || CAST(doc_id AS STRING)", dialect="spark"
    )
    prio = (F.col("n_chars").cast("double") * F.lit(float(MOD_P))) / (
        F.expr(h) + F.lit(1)
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("weight"),
            prio.alias("priority_raw"),
        )
        .orderBy(F.col("priority_raw").desc(), "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "lang", "weight", F.round("priority_raw", 4).alias("priority"))
    )


def _large_star(edges_can: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every node connects its LARGER neighbors to its
    smallest neighbor-or-self. Input/output: canonical edges (a > b)."""
    sym = edges_can.select("a", "b").unionByName(
        edges_can.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    # m = least(a, min-neighbor); emit (v, m) for neighbors v > a — v > a >= m,
    # so output is canonical and self-loop-free by construction
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("a"), F.least(F.col("a"), F.col("mn")).alias("b")
        )
        .distinct()
    )


def _small_star(edges_can: DataFrame) -> DataFrame:
    """One small-star round: every node connects its SMALLER neighbors (and
    itself) to its smallest neighbor. Preserves canonical orientation."""
    mins = edges_can.groupBy("a").agg(F.min("b").alias("m"))
    leaves = (
        edges_can.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    centers = mins.select("a", F.col("m").alias("b"))
    return leaves.unionByName(centers).distinct()


@query(
    "q106_dedup_clusters_altstar",
    oracle=REGISTRY["q90_dedup_clusters"].oracle,  # same fixpoint as q90
    tags=("dedup", "clusters", "connected-components", "alternating", "iterative"),
)
def dedup_clusters_altstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via the ALTERNATING algorithm (large-star /
    small-star, Kiveris et al. 2014): q90's scale path. Min-label
    propagation (q90) needs O(component diameter) rounds — fine for
    shallow dup clusters, quadratic pain on chain-shaped components at
    100 TB. Star contraction halves component height every alternation,
    converging in O(log n) rounds regardless of diameter, each round two
    self-aggregating joins on the (checkpointed) edge list. Same oracle
    fixpoint as q90: three algorithms — recursive CTE, label propagation,
    star contraction — must all agree on the component structure."""
    from kinesis_customer_sample_spark.queries.dedup import ngram_jaccard_pairs

    edges = materialize(
        ngram_jaccard_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))  # a > b
    )
    while True:
        nxt = materialize(_small_star(_large_star(edges)))
        # exact convergence, one job per round: symmetric multiset difference
        changed = (
            nxt.exceptAll(edges).unionAll(edges.exceptAll(nxt)).count()
        )
        edges = nxt
        if changed == 0:
            break
    # converged: edges are min-rooted stars (leaf -> component min);
    # centers label themselves
    labels = (
        edges.select(F.col("a").alias("doc_id"), F.col("b").alias("component_id"))
        .unionByName(
            edges.select(F.col("b").alias("doc_id"), F.col("b").alias("component_id"))
        )
        .distinct()
    )
    w = WINDOW.partitionBy("component_id")
    return labels.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(w).alias("component_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


@query(
    "q105_orc_sink_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
    tags=("sources", "sink", "orc"),
)
def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sink #2: write the region dimension to ORC, read it back.
    Spark's other first-class columnar format — same predicate-pushdown /
    column-pruning machinery as parquet at scale. The oracle states the
    expected rows from the parquet source, so a hash match proves the ORC
    write→read round-trip is lossless."""
    out = scratch("q105")
    table(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode(
        "overwrite"
    ).orc(out)
    return spark.read.orc(out)
