"""Iterative graph operators, wave 2 (SURVEY.md §2B): connected components
and time-respecting reachability — the two graph primitives rounds 1-3 left
uncovered (q120 is single-source BFS hops, q159 PageRank, q270 bounded-round
label propagation; none computes *components to convergence* or respects
edge timestamps).

q292 connected components (hash-min to FIXPOINT). Entity-resolution and
dedup-cluster formation both reduce to CC over a candidate-pair graph; the
reference's pipeline (docs/user-guide.md:100-120 content graph) needs it the
moment two-state disambiguation (R10) spans more than a pair. Implemented as
the standard hash-min propagation: every node's label starts as its own id
and each round becomes min(own, neighbors'); rounds = graph diameter, each
round two key-partitioned shuffles, state = one row per node. That is the
Pregel/GraphX formulation and survives 100 TB: no step materializes paths,
and convergence is detected with a bounded count() per round (diameter
rounds total, single-digit for co-purchase-style graphs).

q293 time-respecting reachability. "Who could have been influenced by X"
is NOT plain reachability: information can only flow along edges whose
timestamps increase along the path (Kempe et al., temporal networks). A
walk (u -> v at t2) extends (… -> u arrived t1) only when t2 > t1. BFS on
the static collapsed graph OVERCOUNTS (it ignores ordering); this operator
is the correct primitive for contamination/influence audits over event
streams. Bounded to 3 hops like q120; each hop is a range-predicate join on
the influence-edge table.

Cross-engine determinism: node ids and hop counts are integers; timestamps
flow through unmodified (timestamp_ntz fixture parity, catalog.py); min()
over integers/timestamps is order-free. No floating point anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.graph_quality_ops import _EDGES_SQL
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# Sparsifier for the customer-supplier graph: only "major" lineitems (top
# quantity band + deep discount) create an edge, so the bipartite graph
# breaks into many components instead of one giant one. Shared literals
# with the oracle SQL.
_CC_MIN_QTY = 49
_CC_MIN_DISC = 0.08

_TR_MAX_HOPS = 3
_TR_WINDOW_H = 24  # influence window: same key seen within 24h


def hash_min_components(e0: DataFrame) -> DataFrame:
    """Hash-min connected components to exact fixpoint — the engine's one
    min-label components loop (q90, q184, q292 and the scale smokes, which
    run it on 2M-node synthetic graphs with a known component structure).

    `e0`: undirected edge list with two integer endpoint columns (first
    two columns are taken as the endpoints). Returns (node, lab) with lab
    = min node id of the component, for every node that has an edge. Each
    round: min-label over neighbors, combined with own label, and a
    `changed` flag carried through the round's `materialize` (which
    keeps plan depth O(1) per round), so the driver's count() of changed
    labels scans checkpointed rows instead of joining new labels to old;
    it stops at zero changes — rounds = graph diameter."""
    a, b = e0.columns[0], e0.columns[1]
    edges = materialize(  # materialized once, joined every round
        e0.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionAll(e0.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    )
    labels = materialize(
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("lab"))
    )
    while True:
        cand = (
            labels.join(edges, labels["node"] == edges["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("nlab"))
        )
        updated = materialize(
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.least("lab", "nlab").alias("lab"),  # least() skips a null nlab
                (F.col("nlab") < F.col("lab")).alias("changed"),
            )
        )
        changed = updated.filter("changed").count()
        labels = updated.select("node", "lab")
        if changed == 0:
            break
    return labels


_CC_EDGES_SQL = f"""
      SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity >= {_CC_MIN_QTY} AND l.l_discount >= {_CC_MIN_DISC}
"""


@query(
    "q292_connected_components",
    oracle=f"""
    WITH RECURSIVE e0 AS (
      {_CC_EDGES_SQL}
    ),
    e AS (
      SELECT cnode AS src, snode AS dst FROM e0
      UNION ALL
      SELECT snode AS src, cnode AS dst FROM e0
    ),
    reach AS (
      SELECT DISTINCT src AS node, src AS lab FROM e
      UNION
      SELECT e.dst AS node, r.lab FROM reach r JOIN e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
    SELECT c.node::BIGINT AS node,
           c.comp::BIGINT AS comp,
           s.comp_size::BIGINT AS comp_size
    FROM comp c
    JOIN (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp) s
      USING (comp)
    """,
    tags=("graph", "connected-components", "iterative", "entity-resolution"),
)
def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the customer-supplier trade graph (edge when
    a customer's order contains a major lineitem from that supplier),
    hash-min label propagation run to exact fixpoint. Each round: join
    labels to the bidirectional edge list, take min neighbor label per
    node, combine with own label via least(); stop when zero labels
    changed (a bounded driver scalar — rounds = diameter). The
    recursive-CTE oracle enumerates (node, reachable-label) pairs to THEIR
    fixpoint and takes min — equality proves the iteration converged, not
    just ran k rounds. Scale: state is |V| rows keyed by node, rounds are
    O(diameter); the giant-graph variants (large-star/small-star) drop in
    without changing the contract."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= _CC_MIN_QTY) & (F.col("l_discount") >= _CC_MIN_DISC)
    )
    o = table(spark, sf_dir, "orders")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    labels = hash_min_components(e0)
    sizes = labels.groupBy(F.col("lab").alias("comp")).agg(
        F.count("*").alias("comp_size")
    )
    return (
        labels.select("node", F.col("lab").alias("comp"))
        .join(F.broadcast(sizes), "comp")
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("comp").cast("bigint").alias("comp"),
            F.col("comp_size").cast("bigint").alias("comp_size"),
        )
    )


_TR_EDGES_SQL = f"""
      SELECT a.user_id AS src, b.user_id AS dst, a.ts AS t1, b.ts AS t2
      FROM ek a
      JOIN ek b
        ON a.k = b.k
       AND a.user_id <> b.user_id
       AND b.ts > a.ts
       AND b.ts <= a.ts + INTERVAL {_TR_WINDOW_H} HOUR
"""


def influence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q293's influence-edge table (pre-checkpoint, so plan tests can
    audit it): equi-join on the shared props key k, with the temporal
    window and the self-pair exclusion as post-join range predicates."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    a, b = ev.alias("a"), ev.alias("b")
    return a.join(
        b,
        (F.col("a.k") == F.col("b.k"))
        & (F.col("a.user_id") != F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {_TR_WINDOW_H} HOURS")),
    ).select(
        F.col("a.user_id").alias("src"),
        F.col("b.user_id").alias("dst"),
        F.col("a.ts").alias("t1"),
        F.col("b.ts").alias("t2"),
    )


@query(
    "q293_temporal_reachability",
    oracle=f"""
    WITH RECURSIVE ek AS (
      SELECT user_id, ts, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    edges AS (
      {_TR_EDGES_SQL}
    ),
    seed AS (SELECT min(user_id) AS u FROM events),
    walk AS (
      SELECT s.u AS user_id,
             (SELECT min(ts) FROM events e WHERE e.user_id = s.u) AS arr,
             0 AS hop
      FROM seed s
      UNION
      SELECT e.dst AS user_id, e.t2 AS arr, w.hop + 1 AS hop
      FROM walk w
      JOIN edges e ON e.src = w.user_id AND e.t1 >= w.arr
      WHERE w.hop < {_TR_MAX_HOPS}
    )
    SELECT user_id::BIGINT AS user_id,
           strftime(min(arr), '%Y-%m-%d %H:%M:%S') AS first_reached,
           min(hop)::BIGINT AS min_hops
    FROM walk
    GROUP BY user_id
    """,
    tags=("graph", "temporal", "reachability", "iterative"),
)
def temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability from the lowest-id user: an influence
    edge u->v exists when v touches the same props key k within 24h AFTER
    u did; a user is reached only along a path whose edge times strictly
    increase. Frontier iteration keeps (user, earliest_arrival, hop) and
    each of the 3 bounded hops joins the frontier to the edge table with
    the time guard e.t1 >= arrival — the static-graph BFS (q120) without
    the guard would overcount. The oracle's recursive CTE enumerates every
    time-respecting walk and aggregates min(arrival), min(hop): matching
    proves the frontier iteration preserves the temporal constraint.
    Scale: edges come from a key-partitioned self-join (shuffle on k, the
    window bounds the fan-out); frontier state is one row per (user,
    arrival) candidate, pruned to min-arrival per user each round."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    edges = materialize(influence_edges(spark, sf_dir))
    seed_user = ev.agg(F.min("user_id")).collect()[0][0]  # scalar seed
    seed_arr = (
        ev.filter(F.col("user_id") == seed_user).agg(F.min("ts")).collect()[0][0]
    )
    reached = spark.createDataFrame(
        [(int(seed_user), seed_arr, 0)], "user_id bigint, arr timestamp_ntz, hop int"
    )
    frontier = reached
    for k in range(1, _TR_MAX_HOPS + 1):
        step = materialize(
            frontier.join(edges, (frontier["user_id"] == edges["src"]) & (edges["t1"] >= frontier["arr"]))
            .select(
                F.col("dst").alias("user_id"),
                F.col("t2").alias("arr"),
                F.lit(k).alias("hop"),
            )
            # prune dominated states: keep earliest arrival per user this hop
            .groupBy("user_id")
            .agg(F.min("arr").alias("arr"), F.min("hop").alias("hop"))
        )
        if not step.take(1):
            break
        reached = reached.unionByName(step)
        frontier = step
    return (
        reached.groupBy("user_id")
        .agg(
            F.date_format(F.min("arr"), "yyyy-MM-dd HH:mm:ss").alias("first_reached"),
            F.min("hop").cast("bigint").alias("min_hops"),
        )
        .select(F.col("user_id").cast("bigint").alias("user_id"), "first_reached", "min_hops")
    )


# k-core dials: coreness threshold and the SYNCHRONIZED peel-round count
# (the q270 contract style: a fixed unroll both engines execute)
_KCORE_K = 3
_KCORE_ROUNDS = 3


@query(
    "q385_kcore_peel",
    oracle=f"""
    WITH e0(s, t) AS ({_EDGES_SQL}),
    e AS (SELECT s, t FROM e0 UNION ALL SELECT t, s FROM e0),
    n0 AS (SELECT s AS node FROM e GROUP BY s HAVING count(*) >= {_KCORE_K}),
    e1 AS (SELECT e.s, e.t FROM e
           JOIN n0 a ON a.node = e.s JOIN n0 b ON b.node = e.t),
    n1 AS (SELECT s AS node FROM e1 GROUP BY s HAVING count(*) >= {_KCORE_K}),
    e2 AS (SELECT e1.s, e1.t FROM e1
           JOIN n1 a ON a.node = e1.s JOIN n1 b ON b.node = e1.t),
    n2 AS (SELECT s AS node FROM e2 GROUP BY s HAVING count(*) >= {_KCORE_K}),
    e3 AS (SELECT e2.s, e2.t FROM e2
           JOIN n2 a ON a.node = e2.s JOIN n2 b ON b.node = e2.t),
    rounds AS (
      SELECT 0 AS round, count(DISTINCT s)::BIGINT AS n_nodes,
             (count(*) / 2)::BIGINT AS n_edges,
             (sum(DISTINCT s) % 1000000007)::BIGINT AS node_checksum
      FROM e
      UNION ALL
      SELECT 1, count(DISTINCT s)::BIGINT, (count(*) / 2)::BIGINT,
             (sum(DISTINCT s) % 1000000007)::BIGINT FROM e1
      UNION ALL
      SELECT 2, count(DISTINCT s)::BIGINT, (count(*) / 2)::BIGINT,
             (sum(DISTINCT s) % 1000000007)::BIGINT FROM e2
      UNION ALL
      SELECT 3, count(DISTINCT s)::BIGINT, (count(*) / 2)::BIGINT,
             (sum(DISTINCT s) % 1000000007)::BIGINT FROM e3
    )
    SELECT round::BIGINT AS round, n_nodes, n_edges, node_checksum FROM rounds
    """,
    tags=("graph", "k-core", "peeling", "iterative"),
)
def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling ({_KCORE_ROUNDS} synchronized rounds at
    k = {_KCORE_K}) — the degeneracy decomposition's workhorse: each
    round drops every node of degree < k and the edges touching it; what
    survives all rounds approximates the k-core (and IS the k-core once
    a round removes nothing — full peeling iterates to that fixpoint at
    scale; the round count here is the declared contract so the oracle
    can unroll it, the q270 precedent). The output traces the shrinking
    (nodes, edges, checksum) per round — the curve a graph-health
    monitor plots.

    Scale posture (100 TB): each round = one degree hash-agg + two
    semi-join edge filters (broadcast when the survivor set shrinks) —
    the standard distributed peel; the co-purchase edge build is the
    q180/q270 shared shape with its per-order fan-out bound. Edge list
    is materialized once for all rounds."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    e0 = materialize(_copurchase_edges(spark, sf_dir)).select(
        F.col("a").alias("s"), F.col("b").alias("t")
    )
    e = e0.unionByName(e0.select(F.col("t").alias("s"), F.col("s").alias("t")))
    rows = []

    def _deg(edges: DataFrame) -> DataFrame:
        return edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))

    def _summary(deg: DataFrame, rnd: int) -> DataFrame:
        # summaries read the NODE-sized degree table the peel builds
        # anyway, not the edge list: n_nodes = degree rows, n_edges =
        # Σdeg/2, checksum = Σs (s is unique per degree row, so this IS
        # sum_distinct over edges). The former edge-level
        # countDistinct/sum_distinct ran a distinct-Expand pass over the
        # full symmetrized edge list once per round (optimization r15,
        # guide §2.3: aggregate the already-aggregated).
        return deg.agg(
            F.lit(rnd).cast("bigint").alias("round"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
            (F.sum(F.col("s")) % 1_000_000_007)
            .cast("bigint")
            .alias("node_checksum"),
        )

    # Each round's edge set and degree table are materialized: the
    # returned union's four summary branches would otherwise evaluate
    # concurrently and recompute the semi-join peel up to once per branch.
    # Rounds are inherently sequential; the barriers run each once.
    cur = e
    deg = materialize(_deg(cur))
    rows.append(_summary(deg, 0))
    for rnd in range(1, _KCORE_ROUNDS + 1):
        survivors = deg.filter(F.col("deg") >= _KCORE_K).select(
            F.col("s").alias("node")
        )
        cur = materialize(
            cur.join(survivors.withColumnRenamed("node", "s"), "s", "left_semi")
            .join(
                survivors.withColumnRenamed("node", "t"), "t", "left_semi"
            )
        )
        deg = materialize(_deg(cur))
        rows.append(_summary(deg, rnd))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# Weisfeiler-Lehman dials: synchronized refinement rounds (the q385
# fixed-unroll contract)
_WL_ROUNDS = 2


@query(
    "q397_wl_refinement",
    oracle=f"""
    WITH e0(s, t) AS ({_EDGES_SQL}),
    e AS (SELECT s, t FROM e0 UNION ALL SELECT t, s FROM e0),
    l0 AS (
      SELECT s AS node, count(*)::BIGINT AS lab FROM e GROUP BY s
    ),
    l1 AS (
      SELECT e.s AS node,
             list_reduce(
               list_prepend(7::BIGINT, list_sort(list(l0n.lab))),
               (a, c) -> (a * 31 + c) % 1000000007) AS lab
      FROM e JOIN l0 l0n ON l0n.node = e.t
      GROUP BY e.s
    ),
    l2 AS (
      SELECT e.s AS node,
             list_reduce(
               list_prepend(7::BIGINT, list_sort(list(l1n.lab))),
               (a, c) -> (a * 31 + c) % 1000000007) AS lab
      FROM e JOIN l1 l1n ON l1n.node = e.t
      GROUP BY e.s
    )
    SELECT 1::BIGINT AS round, count(DISTINCT lab)::BIGINT AS n_colors,
           (sum(DISTINCT lab) % 1000000007)::BIGINT AS color_checksum
    FROM l1
    UNION ALL
    SELECT 2, count(DISTINCT lab), (sum(DISTINCT lab) % 1000000007)::BIGINT
    FROM l2
    """,
    tags=("graph", "weisfeiler-lehman", "color-refinement", "fingerprint"),
)
def wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler–Lehman color refinement ({_WL_ROUNDS} synchronized
    rounds) — the graph-fingerprinting primitive under graph-dedup and
    GNN expressivity: start from degree labels, then each round rehash
    every node as fold(sorted multiset of neighbor labels) — nodes stay
    same-colored iff their neighborhoods are indistinguishable at that
    radius. The per-round color count is the refinement curve; the
    checksum fingerprints the palette (two runs/graphs comparable by one
    row). Fold/sort are the portable mod-P polynomial so both engines
    hash identically; the unroll count is the declared contract (q385).

    Scale posture (100 TB): one edge-keyed hash join + sorted-list agg
    per round (neighbor multisets are degree-bounded); colors are
    node-sized. The same plan repeats per round — fixpoint-many at
    production, structurally identical."""
    from kinesis_customer_sample_spark.queries.graph_quality_ops import (
        _copurchase_edges,
    )

    e0 = materialize(_copurchase_edges(spark, sf_dir)).select(
        F.col("a").alias("s"), F.col("b").alias("t")
    )
    # hash-cluster the symmetrized edges by s ONCE before materializing:
    # every round's groupBy(s) then reuses the stored partitioning (guide §2.4 —
    # "two operations keyed the same way share one exchange"), and the
    # per-round label join broadcasts the node-sized color table, so no
    # round shuffles the edge list at all. The label table is node-grain
    # (grows with SF), so the hint is SIZE-GATED on the measured node
    # count — one job against the materialized edges, and the count is
    # round-invariant (every node with an edge keeps a label each round);
    # past the cap the rounds fall back to AQE-planned shuffle joins.
    from kinesis_customer_sample_spark.functions import broadcast_if_bounded

    e = materialize(
        e0.unionByName(e0.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .repartition(F.col("s"))
    )
    labels = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("lab")
    )
    n_nodes = labels.count()
    outs = []
    for rnd in range(1, _WL_ROUNDS + 1):
        labels = materialize(
            e.join(
                broadcast_if_bounded(
                    labels.select(
                        F.col("node").alias("t"), F.col("lab").alias("nlab")
                    ),
                    n_nodes,
                ),
                "t",
            )
            .groupBy(F.col("s").alias("node"))
            .agg(
                F.expr(
                    "aggregate(array_sort(collect_list(nlab)), "
                    "CAST(7 AS BIGINT), (a, c) -> (a * 31 + c) % 1000000007)"
                ).alias("lab")
            )
        )
        outs.append(
            labels.agg(
                F.lit(rnd).cast("bigint").alias("round"),
                F.countDistinct("lab").alias("n_colors"),
                (F.sum_distinct(F.col("lab")) % 1_000_000_007)
                .cast("bigint")
                .alias("color_checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# q462: truss order (edges must sit in ≥ k−2 triangles) and declared
# synchronized peel rounds (the q385 fixed-unroll contract)
_KTRUSS_K = 4
_KTRUSS_ROUNDS = 2
# truss peeling re-enumerates triangles each round, so the subject graph is
# the 5-brand co-purchase SUBGRAPH (both endpoints in-brand): the full
# co-purchase graph's ~115 avg degree makes support recomputation quadratic-ish
# in degree; a brand slice keeps the same structure at 1/25 the edges
_KTRUSS_BRANDS = "('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4', 'Brand#5')"


def _truss_summary_sql(src: str, rnd: int) -> str:
    return f"""
      SELECT {rnd} AS round,
             count(*)::BIGINT AS n_edges,
             count(DISTINCT a) + count(DISTINCT b) AS _x,
             (sum((a * 1000003 + b) % 1000000007) % 1000000007)::BIGINT
               AS edge_checksum
      FROM {src}"""


@query(
    "q462_ktruss_peel",
    oracle=f"""
    WITH pk AS (
      SELECT p_partkey FROM part WHERE p_brand IN {_KTRUSS_BRANDS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN pk pa ON pa.p_partkey = a.l_partkey
      JOIN pk pb ON pb.p_partkey = b.l_partkey
    ),
    u0 AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
    s1 AS (
      SELECT ab.a, ab.b, count(*)::BIGINT AS sup
      FROM e0 ab
      JOIN u0 ac ON ac.s = ab.a
      JOIN u0 bc ON bc.s = ab.b AND bc.t = ac.t
      GROUP BY ab.a, ab.b
    ),
    e1 AS (SELECT a, b FROM s1 WHERE sup >= {_KTRUSS_K - 2}),
    u1 AS (SELECT a AS s, b AS t FROM e1 UNION ALL SELECT b, a FROM e1),
    s2 AS (
      SELECT ab.a, ab.b, count(*)::BIGINT AS sup
      FROM e1 ab
      JOIN u1 ac ON ac.s = ab.a
      JOIN u1 bc ON bc.s = ab.b AND bc.t = ac.t
      GROUP BY ab.a, ab.b
    ),
    e2 AS (SELECT a, b FROM s2 WHERE sup >= {_KTRUSS_K - 2}),
    rounds AS (
      {_truss_summary_sql('e0', 0)}
      UNION ALL {_truss_summary_sql('e1', 1)}
      UNION ALL {_truss_summary_sql('e2', 2)}
    )
    SELECT round::BIGINT AS round, n_edges, edge_checksum
    FROM rounds ORDER BY round
    """,
    tags=("graph", "k-truss", "triangle", "peel"),
)
def ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peeling (k = {k}, {r} synchronized rounds) over the
    co-purchase graph: each round recomputes every surviving edge's
    SUPPORT (triangles it closes, via the q180 common-neighbor join)
    and drops edges with support < k−2 — the community-core
    decomposition that is strictly stronger than q385's k-core (every
    k-truss edge sits inside (k−2) triangles, so trusses are the
    cohesive cores community detectors seed from). The output traces
    (edges, checksum) per round; as with q385, the declared round
    count is the contract the oracle unrolls — full peeling iterates
    the same round to a fixpoint.

    Determinism: pure integer counting; the edge checksum folds
    (a·1000003 + b) mod p per edge BEFORE the sum, both integer.

    Scale posture (100 TB): each round = one triangle enumeration
    (two hash joins on the adjacency list — shuffle on node id, the
    q180 shape) + one support filter; support recomputation is
    degree-quadratic, so the subject graph is the 5-brand co-purchase
    SUBGRAPH (broadcast part filter, 1/25 the edges of the full graph
    whose ~115 avg degree would make each round ~125x heavier);
    edges persist between rounds and shrink monotonically.""".format(k=_KTRUSS_K, r=_KTRUSS_ROUNDS)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pk = (
        table(spark, sf_dir, "part")
        .filter(F.expr(f"p_brand IN {_KTRUSS_BRANDS}"))
        .select("p_partkey")
    )
    li = li.join(F.broadcast(pk), li.l_partkey == pk.p_partkey).select(
        "l_orderkey", "l_partkey"
    )
    # Materialized: the returned union's per-round summary branches plus
    # each round's THREE self-join references would otherwise recompute
    # the triangle enumeration per branch. Rounds are inherently
    # sequential; the barrier makes each round run exactly once.
    e = materialize(
        li.alias("x")
        .join(li.alias("y"), F.expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )

    def summary(edges: DataFrame, rnd: int) -> DataFrame:
        return edges.agg(
            F.lit(rnd).cast("bigint").alias("round"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            (
                F.sum((F.col("a") * 1000003 + F.col("b")) % 1000000007)
                % 1000000007
            )
            .cast("bigint")
            .alias("edge_checksum"),
        )

    rows = [summary(e, 0)]
    cur = e
    for rnd in range(1, _KTRUSS_ROUNDS + 1):
        # ORIENTED triangle enumeration (a < b < c, each triangle exactly
        # once) instead of the symmetrized common-neighbor join: the old
        # shape joined every edge against the 2|E| undirected adjacency on
        # BOTH endpoints, an intermediate of Σ deg² rows; wedges from the
        # ordered list are ~¼ of that, and per-edge support is recovered by
        # exploding each triangle into its three edges and hash-aggregating
        # (guide §2.3 — shuffle fewer rows into the same answer). An edge's
        # support = |N(a) ∩ N(b)| is exactly the number of ordered
        # triangles containing it, so the filter is unchanged.
        wedges = (
            cur.alias("ab")
            .join(cur.alias("ac"), F.col("ac.a") == F.col("ab.a"))
            .filter(F.col("ac.b") > F.col("ab.b"))
            .select(
                F.col("ab.a").alias("ta"),
                F.col("ab.b").alias("tb"),
                F.col("ac.b").alias("tc"),
            )
        )
        tri = wedges.join(
            cur.alias("bc"),
            (F.col("tb") == F.col("bc.a")) & (F.col("tc") == F.col("bc.b")),
        ).select("ta", "tb", "tc")
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("ta").alias("x"), F.col("tb").alias("y")),
                        F.struct(F.col("ta").alias("x"), F.col("tc").alias("y")),
                        F.struct(F.col("tb").alias("x"), F.col("tc").alias("y")),
                    )
                ).alias("edge")
            )
            .groupBy(F.col("edge.x").alias("a"), F.col("edge.y").alias("b"))
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        cur = materialize(
            sup.filter(F.col("sup") >= _KTRUSS_K - 2)
            .select("a", "b")
        )
        rows.append(summary(cur, rnd))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")
