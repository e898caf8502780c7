"""Graph ranking + weighted paths — round-5 wave (SURVEY.md §2B, graph
family alongside q120 BFS, q159 PageRank, q292 CC): HITS hubs/authorities
over the bipartite purchase graph, and Bellman-Ford bounded-hop cheapest
paths over the weighted co-purchase graph.

Both follow the repo's iterative-graph conventions (established by q159):
- integer micro-unit scores with truncating division, so both engines walk
  identical integer sequences — no float mass to drift;
- each round is one keyed join + one hash aggregation (the Pregel
  message-passing shape), edge list materialized once and reused;
- global normalizers are single-scalar driver reads (the sanctioned
  bounded coordination state, q149-class), never data collects.

Scale posture (100 TB): per iteration the shuffle is keyed by node id and
carries one partial per (task, node); normalization adds one all-reduce
scalar. Iteration count is the fixed unroll depth (2 for HITS, 3 for
Bellman-Ford) — the oracle unrolls the same stages in SQL, so the driver
hash-match proves the distributed iteration is bit-identical to the
closed-form derivation. Reference behavior: user-guide analytics use case
(guide:3) requires engagement ranking over the content graph; HITS is the
bipartite form of that rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.graph_quality_ops import _EDGES_SQL
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_HITS_MU = 1_000_000
_BF_ROUNDS = 3


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→part purchase edges (orders ⋈ lineitem)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )


@query(
    "q314_hits_authorities",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    a1 AS (SELECT p, count(*) * {_HITS_MU}::BIGINT AS a FROM e GROUP BY p),
    a1n AS (SELECT p, a * {_HITS_MU} // (SELECT max(a) FROM a1) AS a FROM a1),
    h1 AS (
      SELECT c, sum(a)::BIGINT AS h
      FROM e JOIN a1n USING (p) GROUP BY c
    ),
    h1n AS (SELECT c, h * {_HITS_MU} // (SELECT max(h) FROM h1) AS h FROM h1),
    a2 AS (
      SELECT p, sum(h)::BIGINT AS a
      FROM e JOIN h1n USING (c) GROUP BY p
    ),
    deg AS (SELECT p, count(*) AS n FROM e GROUP BY p)
    SELECT p::BIGINT AS part_key,
           (a * {_HITS_MU} // (SELECT max(a) FROM a2))::BIGINT AS auth_mu,
           deg.n::BIGINT AS n_buyers
    FROM a2 JOIN deg USING (p)
    """,
    tags=("graph", "hits", "iterative", "ranking"),
)
def hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the bipartite
    customer→part purchase graph, 2 half-iterations unrolled: authority
    a(p) = Σ hub(c) over buyers, hub(c) = Σ a(p) over purchases, each
    step max-normalized to integer micro-units with truncating division
    (both engines walk the same integer sequence). Emits the final
    authority score per part plus its buyer degree. Each half-step is
    one equi-join keyed on the bipartite node id + one hash agg; the
    max-normalizer is a single-scalar driver read per step (bounded
    coordination, q149/q159-class)."""
    e = materialize(_purchase_edges(spark, sf_dir))
    deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("n_buyers"))
    # a1: every hub starts at 1.0 (µ) → authority = degree · µ
    a = deg.select("p", (F.col("n_buyers") * _HITS_MU).cast("long").alias("a"))
    max_a = a.agg(F.max("a")).first()[0]
    a = a.select("p", F.expr(f"a * {_HITS_MU} div {max_a}").alias("a"))
    h = (
        e.join(a, "p")
        .groupBy("c")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    max_h = h.agg(F.max("h")).first()[0]
    h = h.select("c", F.expr(f"h * {_HITS_MU} div {max_h}").alias("h"))
    a2 = (
        e.join(h, "c")
        .groupBy("p")
        .agg(F.sum("h").cast("long").alias("a"))
    )
    max_a2 = a2.agg(F.max("a")).first()[0]
    return (
        a2.join(deg, "p")
        .select(
            F.col("p").cast("bigint").alias("part_key"),
            F.expr(f"a * {_HITS_MU} div {max_a2}").cast("bigint").alias("auth_mu"),
            F.col("n_buyers").cast("bigint").alias("n_buyers"),
        )
    )


def _bf_oracle() -> str:
    """Unrolled Bellman-Ford rounds (same integer weights as the Spark
    path: w = (src + dst) % 9 + 1 on the symmetrized co-purchase graph,
    source = min part key)."""
    cte = f"""
    WITH e0(src, dst) AS ({_EDGES_SQL}),
    e AS (
      SELECT src, dst, (src + dst) % 9 + 1 AS w FROM e0
      UNION ALL
      SELECT dst, src, (src + dst) % 9 + 1 FROM e0
    ),
    d0 AS (SELECT (SELECT min(src) FROM e)::BIGINT AS node, 0::BIGINT AS dist)"""
    prev = "d0"
    for k in range(1, _BF_ROUNDS + 1):
        cte += f""",
    d{k} AS (
      SELECT node, min(dist)::BIGINT AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM {prev} d JOIN e ON d.node = e.src
      ) GROUP BY node
    )"""
        prev = f"d{k}"
    return cte + f"""
    SELECT node AS part_key, dist FROM {prev}
    """


@query(
    "q315_bellman_ford_cheapest",
    oracle=_bf_oracle(),
    tags=("graph", "shortest-path", "weighted", "iterative"),
)
def bellman_ford_cheapest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted cheapest-path (Bellman-Ford relaxation, 3 rounds) from the
    minimum part key over the symmetrized co-purchase graph with
    deterministic integer edge weights ((src+dst) % 9 + 1). Each round
    relaxes every edge once: frontier ⋈ edges → candidate distances →
    min-agg per node unioned with the previous table — one join + one
    keyed aggregation per round, the distributed Bellman-Ford that (unlike
    Dijkstra) needs no priority queue and therefore actually parallelizes.
    The distance table carries only REACHED nodes (sparse frontier), so
    early rounds shuffle a small fraction of the graph. Emits exact
    integer distances for everything within 3 relaxation rounds; the
    oracle unrolls the identical rounds, so the hash match proves the
    relaxation order is immaterial (min is idempotent/commutative)."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    und = _copurchase_edges(spark, sf_dir).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        ((F.col("a") + F.col("b")) % 9 + 1).alias("w"),
    )
    edges = materialize(
        und.unionAll(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    )
    source = edges.agg(F.min("src")).first()[0]  # scalar seed (q120 pattern)
    dist = edges.sparkSession.createDataFrame(
        [(int(source), 0)], "node bigint, dist bigint"
    )
    for _ in range(_BF_ROUNDS):
        relaxed = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = materialize(  # truncate lineage per round (q292 pattern)
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    return dist.select(F.col("node").alias("part_key"), "dist")


@query(
    "q345_degree_assortativity",
    oracle=f"""
    WITH und AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, count(*)::BIGINT AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    ends AS (
      SELECT da.d AS x, db.d AS y
      FROM und e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
      UNION ALL
      SELECT db.d AS x, da.d AS y
      FROM und e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
    ),
    s AS (
      SELECT count(*)::BIGINT AS m2,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy,
             sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
      FROM ends
    )
    SELECT m2 // 2 AS n_edges,
           CAST(floor((m2 * sxy - sx * sy)::DOUBLE
                 / sqrt((m2 * sxx - sx * sx)::DOUBLE
                        * (m2 * syy - sy * sy)::DOUBLE) * 1e6) AS BIGINT)
             AS assortativity_mu
    FROM s
    """,
    tags=("graph", "assortativity", "degree-correlation"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — Newman's r: the
    Pearson correlation of endpoint degrees over all edge-end pairs
    (each undirected edge contributes both orientations, the standard
    symmetrized form). Positive r = hubs link hubs (social-network
    shape); negative = hubs link leaves (star/infrastructure shape) —
    the one-number summary of a graph's joint degree structure,
    complementing q180's clustering coefficient. All five sufficient
    statistics are exact integer sums; the only floats are the final
    sqrt and division, identical IEEE on identical integers, and the
    output is quantized with the shared floor-µ text (round-on-quotient
    outputs are banned — SCALE.md, q288 post-mortem).

    Scale posture (100 TB): degree table via one hash agg over edge
    endpoints; degrees join back to edges by node key (two hash joins —
    the build sides are node-sized, not edge-sized); the moment
    aggregation is one map-side-combined pass with a 1-row result. No
    windows, no iteration, never materializes anything larger than the
    edge list. Cites q180's edge derivation (graph_quality_ops._EDGES_SQL)
    so graph statistics stay comparable across queries.

    The symmetrized edge-end pairs are never materialized: with
    one-orientation sums m = count, q = Σ(dx+dy), p = Σ dx·dy,
    r2 = Σ(dx²+dy²), the symmetrized statistics are exactly
    m2 = 2m, sx = sy = q, sxy = 2p, sxx = syy = r2 (integer identities,
    both orientations of an edge contribute the transposed term), so one
    edge pass replaces the two-branch union (plan: 40 parquet scans /
    38 Exchanges before, 12/16 after; repeated subtrees share work via
    ReuseExchange — an explicit persist() of the edge list measured
    SLOWER than the reuse, 3.9 vs 2.7 s, so the plan stays unpersisted)."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    und = _copurchase_edges(spark, sf_dir)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    # NOT broadcast: forcing broadcast(da)/broadcast(db) measured slower
    # (2.98 vs 2.74 s) — the two broadcast exchanges are not plan-identical
    # (different aliases), so each re-evaluates the degree aggregate and its
    # edge build, while the shuffle-join shape shares those subtrees via
    # ReuseExchange
    joined = und.join(da, "a").join(db, "b")
    one = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.expr("dx + dy")).cast("bigint").alias("q"),
        F.sum(F.expr("dx * dy")).cast("bigint").alias("p"),
        F.sum(F.expr("dx * dx + dy * dy")).cast("bigint").alias("r2"),
    )
    s = one.select(
        (F.col("m") * 2).cast("bigint").alias("m2"),
        F.col("q").cast("bigint").alias("sx"),
        F.col("q").cast("bigint").alias("sy"),
        (F.col("p") * 2).cast("bigint").alias("sxy"),
        F.col("r2").cast("bigint").alias("sxx"),
        F.col("r2").cast("bigint").alias("syy"),
    )
    return s.select(
        F.expr("m2 div 2").cast("bigint").alias("n_edges"),
        # floor-µ, not round(x, 6): Newman's r is a true float quotient and
        # round-on-quotient outputs are banned (SCALE.md, q288 post-mortem) —
        # identical IEEE ×1e6 + exact floor agree across engines; round() does
        # not. floor is also negative-safe (floor→−∞ both engines), which
        # matters here because assortativity is signed.
        F.floor(
            (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            )
            * F.lit(1e6)
        ).cast("bigint").alias("assortativity_mu"),
    )


# q424/q425 (round 7): neighborhood-weighted link prediction and bounded
# 2-hop harmonic centrality over the shared co-purchase edge product.
_AA_DEG_CAP = 50   # shared-neighbor degree cap (q286/q68 hot-hub bound)
_AA_TOPK = 20


@query(
    "q424_adamic_adar",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT s AS node, count(*)::BIGINT AS d FROM e GROUP BY s),
    kept AS (
      SELECT e.s, e.t, deg.d AS dt FROM e JOIN deg ON deg.node = e.t
      WHERE deg.d <= {_AA_DEG_CAP}
    ),
    common AS (
      -- Σ_z 1/ln(deg z) in µ-units: 10¹² div ⌊10⁶·ln d⌋ (d ≥ 2 — a
      -- SHARED neighbor has at least two edges, so ln never sees 1)
      SELECT a.s AS u, b.s AS v,
             count(*)::BIGINT AS n_common,
             sum(1000000000000 // floor(ln(a.dt) * 1000000)::BIGINT)::BIGINT
               AS aa_mu
      FROM kept a JOIN kept b ON a.t = b.t AND a.s < b.s
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT c.* FROM common c
      LEFT JOIN e0 ON e0.a = c.u AND e0.b = c.v
      WHERE e0.a IS NULL
    )
    SELECT u, v, n_common, aa_mu
    FROM cand
    ORDER BY aa_mu DESC, u, v
    LIMIT {_AA_TOPK}
    """,
    tags=("graph", "link-prediction", "adamic-adar"),
)
def adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction — q286's candidate machinery with the
    hub-discounted score Σ_z 1/ln(deg z): a shared RARE neighbor is
    strong evidence of a missing edge, a shared hub is weak (Jaccard
    treats them alike — that is the whole point of the variant). The
    shared neighbor's degree rides the postings row, so the score is one
    integer sum: 10¹² div ⌊10⁶·ln d⌋ µ-units per witness (d ≥ 2 always —
    a shared neighbor has ≥ 2 edges — so ln(1)=0 can never divide).

    Scale posture: candidates from the capped co-neighbor postings join
    (hot hubs bounded exactly like q68's DF cap — a degree-k hub would
    otherwise mint k² pairs), never all-pairs; existing edges drop via
    anti-join; top-20 via TakeOrderedAndProject. The edge product is
    checkpointed once for the query."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    e0 = materialize(_copurchase_edges(spark, sf_dir))
    e = e0.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        e0.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    kept = (
        e.join(deg.withColumnRenamed("node", "t"), "t")
        .filter(F.col("d") <= _AA_DEG_CAP)
        .select("s", "t", F.col("d").alias("dt"))
    )
    common = (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("x.t") == F.col("y.t")) & (F.col("x.s") < F.col("y.s")),
        )
        .groupBy(F.col("x.s").alias("u"), F.col("y.s").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(
                F.expr(
                    "1000000000000 div CAST(floor(ln(x.dt) * 1000000) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("aa_mu"),
        )
    )
    cand = common.join(
        e0.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        cand.select("u", "v", "n_common", "aa_mu")
        .orderBy(F.desc("aa_mu"), "u", "v")
        .limit(_AA_TOPK)
    )


@query(
    "q425_harmonic_centrality_2hop",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT s AS node, count(*)::BIGINT AS d FROM e GROUP BY s),
    kept AS (
      SELECT e.s, e.t FROM e JOIN deg ON deg.node = e.t
      WHERE deg.d <= {_AA_DEG_CAP}
    ),
    two_hop AS (
      SELECT DISTINCT a.s AS u, b.s AS w
      FROM kept a JOIN kept b ON a.t = b.t AND a.s != b.s
    ),
    strict2 AS (
      SELECT t.u, count(*)::BIGINT AS n2
      FROM two_hop t
      LEFT JOIN e ON e.s = t.u AND e.t = t.w
      WHERE e.s IS NULL
      GROUP BY 1
    )
    SELECT deg.node AS part_key, deg.d AS n1,
           coalesce(s.n2, 0) AS n2,
           (deg.d * 1000000 + coalesce(s.n2, 0) * 500000)::BIGINT AS harmonic_mu
    FROM deg LEFT JOIN strict2 s ON s.u = deg.node
    ORDER BY harmonic_mu DESC, part_key
    LIMIT {_AA_TOPK}
    """,
    tags=("graph", "centrality", "harmonic"),
)
def harmonic_centrality_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 2-hop harmonic centrality: C(v) = Σ_{{d(u,v)≤2}} 1/d(u,v)
    = n₁ + n₂/2 — the distance-discounted reach score (closeness
    centrality's robust cousin: finite under disconnection, which is why
    it is THE centrality for real, disconnected graphs). Exact per-node
    neighbor and strict-2-hop counts in µ-units; distance-2 witnesses
    come from the capped co-neighbor postings join with direct edges
    removed by anti-join — the same candidate geometry as q424, reused
    deliberately so the two rankings are comparable.

    Scale posture: bounded-radius centrality is the industry-standard
    scalable truncation (full harmonic needs all-pairs BFS); the 2-hop
    set is DISTINCT-deduped before counting so hub double-paths don't
    inflate reach, and the hot-hub cap bounds the postings fan-out. One
    more hop = one more postings join round. The edge product is
    checkpointed once for the query."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    e0 = materialize(_copurchase_edges(spark, sf_dir))
    e = e0.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        e0.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    kept = (
        e.join(deg.withColumnRenamed("node", "t"), "t")
        .filter(F.col("d") <= _AA_DEG_CAP)
        .select("s", "t")
    )
    two_hop = (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("x.t") == F.col("y.t")) & (F.col("x.s") != F.col("y.s")),
        )
        .select(F.col("x.s").alias("u"), F.col("y.s").alias("w"))
        .distinct()
    )
    strict2 = (
        two_hop.join(
            e.select(F.col("s").alias("u"), F.col("t").alias("w")),
            ["u", "w"],
            "left_anti",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    )
    return (
        deg.join(strict2.withColumnRenamed("u", "node"), "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("d").alias("n1"),
            F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n2"),
            (F.col("d") * 1000000 + F.coalesce(F.col("n2"), F.lit(0)) * 500000)
            .cast("bigint")
            .alias("harmonic_mu"),
        )
        .orderBy(F.desc("harmonic_mu"), "part_key")
        .limit(_AA_TOPK)
    )


# q434 (round 7): personalized PageRank — q159's power iteration with
# the teleport mass concentrated at ONE seed node: ranks become
# "importance relative to the seed's neighborhood", the
# related-items/recommendation primitive (global PR answers "globally
# important"; PPR answers "important NEAR this part").
_PPR_ITERS = 3
_PPR_DAMP_BP = 850
_PPR_BASE_MU = 150_000
_PPR_INIT_MU = 1_000_000
_PPR_TOPK = 20


def _ppr_oracle() -> str:
    """Unrolled PPR power iteration (q159's oracle pattern with a
    seed-restricted restart term; seed = min node of the edge set)."""
    cte = f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY src),
    seed AS (SELECT min(node) AS s FROM deg),
    r0 AS (
      SELECT node, deg,
             CASE WHEN node = (SELECT s FROM seed)
                  THEN {_PPR_INIT_MU} ELSE 0 END::BIGINT AS r
      FROM deg)"""
    prev = "r0"
    for k in range(1, _PPR_ITERS + 1):
        cte += f""",
    s{k} AS (
      SELECT e.dst, sum(p.r // p.deg)::BIGINT AS sc
      FROM {prev} p JOIN e ON p.node = e.src GROUP BY e.dst
    ),
    r{k} AS (
      SELECT d.node, d.deg,
             (CASE WHEN d.node = (SELECT s FROM seed)
                   THEN {_PPR_BASE_MU} ELSE 0 END
              + ({_PPR_DAMP_BP} * coalesce(s.sc, 0)) // 1000)::BIGINT AS r
      FROM deg d LEFT JOIN s{k} s ON d.node = s.dst
    )"""
        prev = f"r{k}"
    return (
        cte
        + f"""
    SELECT node AS part_key, deg, r AS ppr_mu FROM {prev}
    WHERE r > 0
    ORDER BY ppr_mu DESC, part_key
    LIMIT {_PPR_TOPK}
    """
    )


@query(
    "q434_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "pagerank", "personalized", "iterative"),
)
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a single seed part (the minimum node
    id — deterministic at every scale factor): the restart mass
    (1−d)·10⁶ returns to the SEED each iteration instead of spreading
    uniformly, so after 3 unrolled integer power iterations the µ-unit
    ranks measure proximity-weighted importance around the seed — the
    'related parts' recommendation score. Same integer contract as q159
    (r div deg messages, 850-bp damping, truncating division), oracle
    unrolls the identical steps; top-{k} with r > 0 keeps only the
    seed's reachable neighborhood.

    Scale posture: identical to q159 — per iteration one keyed join +
    one hash agg over the materialized edge/node tables; PPR mass
    is sparse (only nodes within 3 hops of the seed are nonzero), which
    at 100 TB makes the state a small fraction of the graph — the
    standard push-style PPR advantage.""".format(k=_PPR_TOPK)
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    e0 = materialize(_copurchase_edges(spark, sf_dir))
    e = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = materialize(
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    seed = F.broadcast(deg.agg(F.min("node").alias("s")))
    ranks = deg.crossJoin(seed).select(
        "node",
        "deg",
        F.when(F.col("node") == F.col("s"), F.lit(_PPR_INIT_MU))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("r"),
    )
    for _ in range(_PPR_ITERS):
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
        )
        ranks = (
            deg.join(contrib, deg["node"] == contrib["dst"], "left")
            .crossJoin(seed)
            .select(
                "node",
                "deg",
                F.expr(
                    f"CAST((CASE WHEN node = s THEN {_PPR_BASE_MU} ELSE 0 END)"
                    f" + ({_PPR_DAMP_BP} * coalesce(sc, 0)) div 1000 AS BIGINT)"
                ).alias("r"),
            )
        )
    return (
        ranks.filter(F.col("r") > 0)
        .select(
            F.col("node").alias("part_key"), "deg", F.col("r").alias("ppr_mu")
        )
        .orderBy(F.desc("ppr_mu"), "part_key")
        .limit(_PPR_TOPK)
    )


@query(
    "q472_brand_modularity",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    m AS (SELECT count(*)::BIGINT AS m FROM e0),
    nodes AS (
      SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0
      ) GROUP BY node
    ),
    labeled AS (
      SELECT n.node, n.deg, p.p_brand
      FROM nodes n JOIN part p ON p.p_partkey = n.node
    ),
    comm AS (
      SELECT p_brand, count(*)::BIGINT AS n_nodes, sum(deg)::BIGINT AS deg_sum
      FROM labeled GROUP BY p_brand
    ),
    intra AS (
      SELECT pa.p_brand, count(*)::BIGINT AS intra_edges
      FROM e0
      JOIN part pa ON pa.p_partkey = e0.a
      JOIN part pb ON pb.p_partkey = e0.b
      WHERE pa.p_brand = pb.p_brand
      GROUP BY pa.p_brand
    )
    SELECT c.p_brand, c.n_nodes, c.deg_sum,
           COALESCE(i.intra_edges, 0)::BIGINT AS intra_edges,
           (SELECT m FROM m) AS m_edges,
           CAST(floor((CAST(COALESCE(i.intra_edges, 0) AS DOUBLE) / (SELECT m FROM m)
                 - (CAST(c.deg_sum AS DOUBLE) / (2.0 * (SELECT m FROM m)))
                   * (CAST(c.deg_sum AS DOUBLE) / (2.0 * (SELECT m FROM m))))
                 * 1e6) AS BIGINT) AS q_contrib_mu
    FROM comm c LEFT JOIN intra i ON i.p_brand = c.p_brand
    ORDER BY c.p_brand
    """,
    tags=("graph", "modularity", "community", "copurchase"),
)
def brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a GIVEN partition — the community-quality
    score Q = Σ_c [e_c/m − (d_c/2m)²] evaluated for the brand partition
    of the co-purchase part graph: 'do same-brand parts co-sell more
    than a degree-preserving random rewiring predicts?' Emits one row
    per community with its exact integer evidence (node count, degree
    mass, intra-community edge count, total edges) plus its additive
    Q-contribution — summing q_contrib IS the partition's modularity,
    making this the objective evaluator for q90/q292's components and
    q464's clusters.

    Determinism: e_c, d_c, m are exact integer aggregates; the one
    double expression is the same fixed text both engines evaluate;
    rounded in-query.

    Scale posture: reads the edge product, checkpointed once for the
    query; brand labels arrive via broadcast dimension joins (part is the
    small side); two hash-aggs to a 25-row community table — no
    shuffle ever carries more than the edge list itself."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    e0 = materialize(_copurchase_edges(spark, sf_dir))
    brands = F.broadcast(
        table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    m = e0.agg(F.count(F.lit(1)).cast("bigint").alias("m_edges"))
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionAll(e0.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    comm = (
        nodes.join(brands, nodes.node == brands.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("deg_sum"),
        )
    )
    intra = (
        e0.join(
            brands.select(
                F.col("p_partkey").alias("a"), F.col("p_brand").alias("brand_a")
            ),
            "a",
        )
        .join(
            brands.select(
                F.col("p_partkey").alias("b"), F.col("p_brand").alias("brand_b")
            ),
            "b",
        )
        .filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("p_brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra_edges"))
    )
    # floor-µ output (SCALE.md round-on-quotient ban)
    q_expr = (
        "CAST(floor((CAST(intra_edges AS DOUBLE) / m_edges"
        " - (CAST(deg_sum AS DOUBLE) / (2.0 * m_edges))"
        "   * (CAST(deg_sum AS DOUBLE) / (2.0 * m_edges))) * 1e6) AS BIGINT)"
    )
    return (
        comm.join(intra, "p_brand", "left")
        .withColumn("intra_edges", F.coalesce("intra_edges", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(m))
        .select(
            "p_brand",
            "n_nodes",
            "deg_sum",
            "intra_edges",
            "m_edges",
            F.expr(q_expr).alias("q_contrib_mu"),
        )
        .orderBy("p_brand")
    )


# ---- q501: degree-distribution power-law fit ---------------------------------


@query(
    "q501_degree_powerlaw_fit",
    oracle=f"""
    WITH e0 AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, count(*)::BIGINT AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0
      ) GROUP BY node
    ),
    hist AS (SELECT d, count(*)::BIGINT AS n_nodes FROM deg GROUP BY d),
    pts AS (
      SELECT d, n_nodes,
             CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(floor(ln(CAST(n_nodes AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM hist WHERE d >= 2
    ),
    fit AS (
      SELECT count(*)::BIGINT AS k, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
      FROM pts
    )
    SELECT p.d AS degree, p.n_nodes,
           CAST(floor(CAST(f.k * f.sxy - f.sx * f.sy AS DOUBLE)
                 / CAST(f.k * f.sxx - f.sx * f.sx AS DOUBLE) * 1e6) AS BIGINT)
             AS alpha_slope_mu,
           f.k AS n_fit_points
    FROM pts p CROSS JOIN fit f
    ORDER BY p.d
    """,
    tags=("graph", "degree-distribution", "power-law", "health"),
)
def degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit — the graph-health one-liner
    (q358's Zipf / q467's retention discipline applied to the
    co-purchase graph): the log-log OLS slope of the degree histogram.
    A scale-free co-occurrence graph fits alpha ~ -2..-3; a slope near
    0 flags a quasi-regular (random/synthetic) graph, and a cliff flags
    a degree cap — exactly what q424/q68's hot-hub bounds assume, so
    this PUBLISHES the evidence those caps rely on. Emits the histogram
    plus the fitted slope on every row.

    Determinism: degrees and the histogram are exact integers; the
    log-log points are floor-quantized micro-nats; the slope is one
    shared double expression over int64-safe sums (x, y <= ~3e7 even at
    1e12 nodes — logs grow slowly), floor-µ-quantized on output (signed
    quotient; round-on-quotient outputs banned per SCALE.md).

    Scale posture (100 TB): reads the checkpointed edge product; degree
    is one hash-agg, the histogram another (<= max-degree rows); the fit
    is a 1-row broadcast. Nothing beyond the edge list ever shuffles."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    und = materialize(_copurchase_edges(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pts = hist.filter(F.col("d") >= 2).select(
        "d",
        "n_nodes",
        F.expr("CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000) AS BIGINT)").alias("x"),
        F.expr("CAST(floor(ln(CAST(n_nodes AS DOUBLE)) * 1000000) AS BIGINT)").alias(
            "y"
        ),
    )
    fit = F.broadcast(
        pts.agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
            F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        )
    )
    return (
        pts.crossJoin(fit)
        .select(
            F.col("d").alias("degree"),
            "n_nodes",
            # floor-µ, not round(x, 6): the slope is a signed float quotient
            # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
            F.expr(
                "CAST(floor(CAST(k * sxy - sx * sy AS DOUBLE)"
                " / CAST(k * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT)"
            ).alias("alpha_slope_mu"),
            F.col("k").alias("n_fit_points"),
        )
        .orderBy("degree")
    )
