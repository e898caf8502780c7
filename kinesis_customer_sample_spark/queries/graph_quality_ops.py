"""Graph-analytics + data-quality + streaming-completion operators — the
eighth wave (SURVEY.md §2B): degree-oriented triangle counting, Markov
transition matrices, referential-integrity auditing, and the left-outer
stream-stream join (the one Structured Streaming join family q111's inner
form left uncovered).

Scale posture (100 TB):
- q180 is the canonical distributed triangle count: edges oriented by the
  total order (degree, id) so every wedge is generated at its LOWEST-degree
  vertex — the join fan-out is Σ d_out², bounded by m^1.5 overall instead
  of the Σ d² a hub vertex causes under naive orientation. Triangle and
  wedge counts are orientation-invariant, so the oracle uses plain id
  order and must agree exactly.
- q181 is one shuffle on user_id + a per-key linear window; the 25-cell
  transition matrix aggregates with map-side partials. Probabilities are
  integer basis points (truncating div) — no float rows.
- q182's FK probes are left-anti joins: dimension sides broadcast, the
  lineitem→orders probe shuffles on the key both tables already cluster
  by. Each audit row costs one scan of the child table; audits share
  nothing, so Spark runs them as independent parallel subtrees of one
  union.
- q183 executes a REAL left-outer stream-stream join. Outer-null emission
  is gated by watermark advancement (state for a purchase can only be
  declared click-less once the click watermark passes its window), so the
  query restricts purchases to ts ≤ max(ts) − 2 h — events whose window
  provably closes before the replay's final watermark — making the
  availableNow result equal the batch left join, hash-checked. The state
  bound is the same as q111: one window per active user, expired by
  watermark + range condition.
No Python UDFs; all whole-stage-codegen'd SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# canonical undirected co-purchase edges (a < b): the one oracle text for
# the edge list; graph oracles rename its columns with a CTE column list
_EDGES_SQL = """
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one Spark builder of the co-purchase edge list (`_EDGES_SQL`'s
    twin). Consumers in other modules import it inside their builders,
    so a test that replaces it on this module reaches every consumer; each
    consumer keeps its own barrier over it."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("x")
    b = li.alias("y")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )


@query(
    "q180_triangle_count",
    oracle=f"""
    WITH und AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, count(*)::BIGINT AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT count(*) FROM deg)::BIGINT                    AS n_nodes,
           (SELECT count(*) FROM und)::BIGINT                    AS n_edges,
           (SELECT n_triangles FROM tri)::BIGINT                 AS n_triangles,
           ((SELECT 3 * n_triangles * 1000000 FROM tri)
            // (SELECT sum(d * (d - 1) // 2) FROM deg))::BIGINT  AS clustering_mu
    """,
    tags=("graph", "triangles", "clustering"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph with degree-based
    orientation: each undirected edge is directed from the (degree, id)-
    smaller endpoint to the larger, so wedges are enumerated at their
    lowest-degree vertex — join fan-out Σ d_out² ≤ O(m^1.5) instead of
    exploding at hub vertices (the standard MapReduce triangle-count
    bound). A triangle (u→v, u→w, v→w) is then counted exactly once by
    joining wedges back to oriented edges. Global clustering coefficient
    = 3·triangles / wedges in integer µ-units; both counts are
    orientation-invariant, so the oracle's plain id-ordered enumeration
    must agree bit-for-bit."""
    und = materialize(_copurchase_edges(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): lower endpoint in this order emits the edge
    ranked = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
    )
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_is_a, F.col("db")).otherwise(F.col("da")).alias("dst_d"),
    )
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("dst_d").alias("vd"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("dst_d").alias("wd"))
    # wedge (v, w) at src, one per unordered pair: order by (degree, id)
    wedges = e1.join(e2, "src").filter(
        (F.col("vd") < F.col("wd"))
        | ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    degstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    return (
        degstats.crossJoin(counts)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.expr("3 * n_triangles * 1000000 div n_wedges")
            .cast("long")
            .alias("clustering_mu"),
        )
    )


@query(
    "q181_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, count(*)::BIGINT AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           (n * 10000 // sum(n) OVER (PARTITION BY from_type))::BIGINT AS prob_bp
    FROM pairs
    """,
    tags=("analytics", "markov", "window"),
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    P(next event type | current), as integer basis points. One shuffle
    on user_id for the lead() window, then a |types|²-cell hash agg with
    map-side partials; row normalization is a window over the 25-row
    matrix (trivially broadcast-scale). The user-behavior model behind
    next-event prediction and anomalous-session scoring."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = W.partitionBy("from_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(wrow))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 10000 div row_total").cast("long").alias("prob_bp"),
        )
    )


@query(
    "q182_referential_integrity",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS constraint_name,
           (SELECT count(*) FROM orders)::BIGINT AS n_rows,
           (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))::BIGINT AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))::BIGINT
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))::BIGINT
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey))::BIGINT
    UNION ALL
    SELECT 'events.user_id->customer',
           (SELECT count(*) FROM events)::BIGINT,
           (SELECT count(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id))::BIGINT
    """,
    tags=("quality", "referential-integrity", "anti-join"),
)
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for each foreign-key relationship,
    total child rows and orphan rows (children whose parent key does not
    exist) via left-anti joins. Dimension parents (customer, part,
    supplier) broadcast; the lineitem→orders probe shuffles on the join
    key. Each audit is an independent subtree of one union — Spark
    schedules them concurrently. The everyday warehouse data-quality
    gate, and the first thing to run after any CDC apply (q161)."""

    def _audit(name: str, child: DataFrame, key: str, parent: DataFrame, pkey: str, bcast: bool) -> DataFrame:
        par = F.broadcast(parent) if bcast else parent
        orphans = child.join(par, child[key] == par[pkey], "left_anti")
        return (
            child.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(name).alias("constraint_name"),
                F.col("n_rows").cast("long"),
                F.col("n_orphans").cast("long"),
            )
        )

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer").select("c_custkey")
    part = table(spark, sf_dir, "part").select("p_partkey")
    supplier = table(spark, sf_dir, "supplier").select("s_suppkey")
    events = table(spark, sf_dir, "events")
    audits = [
        _audit("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey", True),
        _audit("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
               orders.select("o_orderkey"), "o_orderkey", False),
        _audit("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey", True),
        _audit("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey", True),
        _audit("events.user_id->customer", events, "user_id", customer, "c_custkey", True),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


@query(
    "q183_stream_outer_join",
    oracle="""
    WITH cutoff AS (
      SELECT least(max(ts) FILTER (event_type = 'click'),
                   max(ts) FILTER (event_type = 'purchase'))
             - INTERVAL 2 HOUR AS cut
      FROM events
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events, cutoff
      WHERE event_type = 'purchase' AND ts <= cut
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.user_id,
           count(*)::BIGINT                                    AS n_rows,
           count(*) FILTER (c.user_id IS NULL)::BIGINT         AS n_clickless
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 72 HOUR AND p.ts
    GROUP BY p.user_id
    """,
    tags=("streaming", "join", "stream-stream", "outer"),
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the join family q111's
    inner form leaves uncovered. A purchase with no click in its 72 h
    lookback must still emit (with nulls), and Structured Streaming can
    only declare it click-less once the click-side watermark passes the
    window's end — so outer results are watermark-GATED, not just
    watermark-bounded. To make the availableNow replay equal the batch
    left join, purchases are restricted to ts ≤ max(ts) − 2 h (windows
    that provably close before the final watermark, 1 h delay + margin);
    the tail events still feed the watermark. State posture matches
    q111: keyed by user, expired by watermark + range. Oracle: the batch
    left join with the same cutoff, hash-checked — stream/batch
    equivalence for outer emission."""
    from kinesis_customer_sample_spark.streaming.replay import (
        events_stream,
        run_to_completion,
    )

    # Cutoff anchored to the LATER-ARRIVING of the two sides' maxima: the
    # global watermark is min(click wm, purchase wm), so the margin must
    # survive whichever side's tail is sparser (at sf0.001 hours can pass
    # between purchases).
    cut = (
        table(spark, sf_dir, "events")
        .agg(
            F.expr(
                "least(max(CASE WHEN event_type = 'click' THEN ts END), "
                "max(CASE WHEN event_type = 'purchase' THEN ts END)) "
                "- INTERVAL 2 HOUR"
            ).alias("cut")
        )
        .collect()[0]["cut"]
    )
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    # The ts-cutoff filter must sit ABOVE the watermark operator: the
    # watermark tracks event time of rows flowing through its node, and
    # filtering first would cap the purchase-side watermark at cut − 1 h —
    # leaving every clickless purchase in the final kept hour gated
    # forever (found the hard way: one row short at sf0.01).
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("purchase_ts") <= F.lit(cut))
    )
    pairs = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 72 HOURS"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    )
    rows = run_to_completion(pairs, output_mode="append")
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("c_user").isNull(), 1)).alias("n_clickless"),
    )


@query(
    "q270_label_propagation",
    oracle=f"""
    WITH e0(s, t) AS ({_EDGES_SQL}),
    e AS (SELECT s, t FROM e0 UNION ALL SELECT t, s FROM e0),
    l0 AS (SELECT DISTINCT s AS node, s AS lab FROM e),
    c1 AS (
      SELECT e.s AS node, l0.lab, count(*) AS cnt
      FROM e JOIN l0 ON l0.node = e.t GROUP BY 1, 2
    ),
    l1 AS (
      SELECT node, lab FROM c1
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab) = 1
    ),
    c2 AS (
      SELECT e.s AS node, l1.lab, count(*) AS cnt
      FROM e JOIN l1 ON l1.node = e.t GROUP BY 1, 2
    ),
    l2 AS (
      SELECT node, lab FROM c2
      QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab) = 1
    )
    SELECT node AS part_key, lab AS community FROM l2
    """,
    tags=("graph", "community", "label-propagation"),
)
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al.) on the
    co-purchase graph — COMMUNITY detection, complementing the
    connected-components family (q90/q106 find what's reachable; LPA
    finds what's densely connected): each node repeatedly adopts the MODE
    of its neighbors' labels, ties to the smallest label so every round
    is deterministic. Two fixed synchronous rounds (the oracle unrolls
    the same two), labels initialized to node ids. Each round is one
    edges⋈labels hash join (shuffle on node id) plus a (node, label)
    count and an argmax-by-struct — the min(struct(-cnt, lab)) trick
    keeps the mode selection inside a partial-aggregable hash-agg instead
    of a row_number window over the count table. At 100 TB each round
    shuffles |E| rows; rounds are a driver loop exactly like q90's CC,
    with label convergence (not a fixed count) as the production stop
    rule."""
    e0 = _copurchase_edges(spark, sf_dir)
    e = e0.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        e0.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    labels = e.select(F.col("s").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    for _ in range(2):
        nbr = e.join(
            labels.withColumnRenamed("node", "t"), "t"
        ).select(F.col("s").alias("node"), "lab")
        counts = nbr.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            counts.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("lab"))).alias("best"))
            .select("node", F.col("best.lab").alias("lab"))
        )
    return labels.select(
        F.col("node").alias("part_key"), F.col("lab").alias("community")
    )


_LP_DEG_CAP = 50  # co-neighbor postings cap (hot-hub bound, q68's DF-cap analog)
_LP_TOPK = 20


@query(
    "q286_link_prediction_jaccard",
    oracle=f"""
    WITH e0(s, t) AS ({_EDGES_SQL}),
    e AS (SELECT s, t FROM e0 UNION ALL SELECT t, s FROM e0),
    deg AS (SELECT s AS node, count(*) AS d FROM e GROUP BY s),
    kept AS (
      SELECT e.s, e.t FROM e JOIN deg ON deg.node = e.t
      WHERE deg.d <= {_LP_DEG_CAP}
    ),
    common AS (
      SELECT a.s AS u, b.s AS v, count(*) AS c
      FROM kept a JOIN kept b ON a.t = b.t AND a.s < b.s
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT c.u, c.v, c.c, da.d AS du, db.d AS dv
      FROM common c
      JOIN deg da ON da.node = c.u
      JOIN deg db ON db.node = c.v
      LEFT JOIN e0 ON e0.s = c.u AND e0.t = c.v
      WHERE e0.s IS NULL
    )
    SELECT u, v, c::BIGINT AS n_common,
           round(c::DOUBLE / (du + dv - c), 6) AS jaccard
    FROM cand
    ORDER BY jaccard DESC, u, v
    LIMIT {_LP_TOPK}
    """,
    tags=("graph", "link-prediction", "jaccard"),
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: rank NON-adjacent node
    pairs by |N(u)∩N(v)| / |N(u)∪N(v)| — the classic similarity score
    for 'who should be connected next', distinct from q180 (triangles
    measure existing closure; this predicts missing edges). Candidate
    pairs come from a co-neighbor postings join (two nodes appear
    together in some neighbor's adjacency list), NEVER all-pairs; a
    degree cap on the shared neighbor bounds hub fan-out exactly like
    q68's document-frequency cap — a hub connected to k nodes would
    otherwise contribute k² candidate pairs. Existing edges drop via an
    anti-join against the canonical edge list. Everything is counts and
    one rounded division; top-20 via TakeOrderedAndProject."""
    e0 = _copurchase_edges(spark, sf_dir)
    e = e0.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        e0.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    kept = e.join(
        deg.withColumnRenamed("node", "t"), "t"
    ).filter(F.col("d") <= _LP_DEG_CAP).select("s", "t")
    common = (
        kept.alias("x")
        .join(
            kept.alias("y"),
            (F.col("x.t") == F.col("y.t")) & (F.col("x.s") < F.col("y.s")),
        )
        .groupBy(F.col("x.s").alias("u"), F.col("y.s").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = (
        common.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
        )
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .join(
            e0.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
    )
    return (
        cand.select(
            "u",
            "v",
            F.col("c").cast("bigint").alias("n_common"),
            F.round(
                F.col("c").cast("double")
                / (F.col("du") + F.col("dv") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(_LP_TOPK)
    )


@query(
    "q364_stream_full_outer_join",
    oracle="""
    WITH cutoff AS (
      SELECT least(max(ts) FILTER (event_type = 'click'),
                   max(ts) FILTER (event_type = 'purchase'))
             - INTERVAL 2 HOUR AS cut
      FROM events
    ),
    p AS (
      SELECT user_id, ts FROM events, cutoff
      WHERE event_type = 'purchase' AND ts <= cut
    ),
    c AS (
      SELECT user_id, ts FROM events, cutoff
      WHERE event_type = 'click' AND ts <= cut - INTERVAL 72 HOUR
    )
    SELECT coalesce(p.user_id, c.user_id)                    AS user_key,
           count(*)::BIGINT                                  AS n_rows,
           count(*) FILTER (p.user_id IS NOT NULL
                        AND c.user_id IS NOT NULL)::BIGINT   AS n_matched,
           count(*) FILTER (c.user_id IS NULL)::BIGINT       AS n_purchase_only,
           count(*) FILTER (p.user_id IS NULL)::BIGINT       AS n_click_only
    FROM p FULL OUTER JOIN c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 72 HOUR AND p.ts
    GROUP BY 1
    """,
    tags=("streaming", "join", "stream-stream", "full-outer"),
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the streaming
    join matrix (inner q111, left outer q183, left semi q348): BOTH
    sides' unmatched rows must emit with nulls, and each side's outer
    emission is gated on the OTHER side's watermark passing its window.
    Unlike q183, the provably-closed-window cutoff therefore applies to
    BOTH inputs (above each watermark node, the q183 lesson), and the
    click cutoff sits a full range-width (72 h) EARLIER: a click's match
    window looks FORWARD (purchases in [c, c+72 h]), so its outer
    emission is only gated once the watermark passes c + 72 h — clicks
    nearer the end would stay in limbo and the stream would undercount
    click-only rows (found the hard way: 67 user rows short at sf0.01).
    With the asymmetric cutoffs every window closes before the final
    availableNow watermark and the stream equals the batch full outer
    join — hash-checked.

    State posture (100 TB): keyed by user_id on both sides, rows expire
    at watermark + 72 h range; output is append-mode with outer rows
    emitted on watermark passage, exactly the semantics a billing-grade
    reconciliation stream needs (every click AND every purchase accounted
    once)."""
    from kinesis_customer_sample_spark.streaming.replay import (
        events_stream,
        run_to_completion,
    )

    cut = (
        table(spark, sf_dir, "events")
        .agg(
            F.expr(
                "least(max(CASE WHEN event_type = 'click' THEN ts END), "
                "max(CASE WHEN event_type = 'purchase' THEN ts END)) "
                "- INTERVAL 2 HOUR"
            ).alias("cut")
        )
        .collect()[0]["cut"]
    )
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
        .filter(F.col("click_ts") <= F.lit(cut) - F.expr("INTERVAL 72 HOURS"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("purchase_ts") <= F.lit(cut))
    )
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 72 HOURS"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "full_outer",
    )
    rows = run_to_completion(pairs, output_mode="append")
    return rows.groupBy(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_key")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(
            F.when(F.col("p_user").isNotNull() & F.col("c_user").isNotNull(), 1)
        ).alias("n_matched"),
        F.count(F.when(F.col("c_user").isNull(), 1)).alias("n_purchase_only"),
        F.count(F.when(F.col("p_user").isNull(), 1)).alias("n_click_only"),
    )


@query(
    "q374_stream_anti_join",
    oracle="""
    WITH cutoff AS (
      SELECT least(max(ts) FILTER (event_type = 'click'),
                   max(ts) FILTER (event_type = 'purchase'))
             - INTERVAL 2 HOUR AS cut
      FROM events
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events, cutoff
      WHERE event_type = 'purchase' AND ts <= cut
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.user_id,
           count(*)::BIGINT AS n_unattributed,
           min(p.event_id)::BIGINT AS first_event_id
    FROM p
    WHERE NOT EXISTS (
      SELECT 1 FROM c
      WHERE c.user_id = p.user_id
        AND c.ts BETWEEN p.ts - INTERVAL 72 HOUR AND p.ts
    )
    GROUP BY p.user_id
    """,
    tags=("streaming", "join", "stream-stream", "anti"),
)
def stream_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream ANTI join — purchases with NO click in their 72 h
    lookback (the "dark conversions" feed an attribution pipeline
    quarantines). Structured Streaming has no native streaming anti
    join, so this implements the standard composition: the q183 LEFT
    OUTER stream-stream interval join followed by an IS NULL filter on
    the match side — outer rows only emit once the click-side watermark
    proves no match can still arrive, which is EXACTLY anti-join
    semantics under event time. Same closed-window cutoff discipline as
    q183 (backward-looking windows only, so just the purchase side is
    cut). Oracle is batch NOT EXISTS — hash-equivalence shows the
    composition is the anti join.

    State posture (100 TB): identical to q183 (keyed by user, watermark
    + 72 h expiry); the null filter is stateless post-join."""
    from kinesis_customer_sample_spark.streaming.replay import (
        events_stream,
        run_to_completion,
    )

    cut = (
        table(spark, sf_dir, "events")
        .agg(
            F.expr(
                "least(max(CASE WHEN event_type = 'click' THEN ts END), "
                "max(CASE WHEN event_type = 'purchase' THEN ts END)) "
                "- INTERVAL 2 HOUR"
            ).alias("cut")
        )
        .collect()[0]["cut"]
    )
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
        .filter(F.col("purchase_ts") <= F.lit(cut))
    )
    pairs = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 72 HOURS"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    )
    rows = run_to_completion(pairs, output_mode="append")
    return (
        rows.filter(F.col("c_user").isNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_unattributed"),
            F.min("event_id").alias("first_event_id"),
        )
    )


@query(
    "q413_local_clustering_profile",
    oracle=f"""
    WITH und AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, count(*)::BIGINT AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    -- each id-ordered triangle (a<b<c via e1=(a,b), e2=(b,c), e3=(a,c))
    -- credits ALL THREE corners one closed wedge
    tri_corner AS (
      SELECT e1.a AS node FROM und e1
      JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
      UNION ALL
      SELECT e1.b FROM und e1
      JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
      UNION ALL
      SELECT e2.b FROM und e1
      JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT d.node, d.d,
             coalesce(t.n_tri, 0)::BIGINT AS n_tri,
             CASE WHEN d.d >= 2
                  THEN (coalesce(t.n_tri, 0) * 1000000 * 2 // (d.d * (d.d - 1)))
                  ELSE 0 END AS lcc_mu
      FROM deg d
      LEFT JOIN (SELECT node, count(*)::BIGINT AS n_tri FROM tri_corner
                 GROUP BY node) t
        ON t.node = d.node
    )
    SELECT (lcc_mu // 100000)::BIGINT AS lcc_decile,
           count(*)::BIGINT           AS n_nodes,
           (sum(d) // count(*))::BIGINT AS mean_degree,
           max(n_tri)::BIGINT         AS max_triangles
    FROM per_node GROUP BY 1
    """,
    tags=("graph", "clustering", "local", "profile"),
)
def local_clustering_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient profile — the node-grain
    companion to q180's single global number: every triangle credits its
    three corners, each node's coefficient is 2·tri/(d·(d−1)) in integer
    µ-units, and the output is the decile histogram of coefficients with
    per-bin degree context — the curve that separates a clustered social
    graph from a star-dominated one even when the GLOBAL coefficient is
    identical. Triangle enumeration is the same id-ordered join as the
    oracle (orientation-free here; the corner credit needs all three
    corners anyway).

    Scale posture (100 TB): triangle enumeration reads the edge
    product, checkpointed once for the query; the corner
    fan-out is ×3 map-side; per-node rollup and the decile grid are
    hash aggs. At hub-heavy graphs the q180 degree-orientation bound
    applies to the enumeration join's build side."""
    und = materialize(_copurchase_edges(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = und.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = und.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    e3 = und.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = materialize(e1.join(e2, "tb").join(e3, ["ta", "tc"]))
    corners = (
        tris.select(F.col("ta").alias("node"))
        .unionAll(tris.select(F.col("tb").alias("node")))
        .unionAll(tris.select(F.col("tc").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    per_node = deg.join(corners, "node", "left").select(
        "d",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
        F.when(
            F.col("d") >= 2,
            F.expr("coalesce(n_tri, 0) * 1000000 * 2 div (d * (d - 1))"),
        )
        .otherwise(0)
        .alias("lcc_mu"),
    )
    return per_node.groupBy(
        F.expr("lcc_mu div 100000").cast("bigint").alias("lcc_decile")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(d) div count(1)").cast("bigint").alias("mean_degree"),
        F.max("n_tri").alias("max_triangles"),
    )


# ---- q506: Markov stationary distribution (power iteration) ------------------
_SD_ITERS = 16
_SD_START_MU = 200_000  # uniform start over the 5 event types, in µ


@query(
    "q506_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, count(*)::BIGINT AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    rowsum AS (
      SELECT from_type, sum(n)::BIGINT AS tot FROM pairs GROUP BY from_type
    ),
    p0 AS (
      SELECT from_type AS state, {_SD_START_MU}::BIGINT AS p_mu FROM rowsum
    ),
    p1 AS (
      SELECT p.to_type AS state, sum(p0.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p0
      JOIN pairs p ON p.from_type = p0.state
      JOIN rowsum r ON r.from_type = p0.state
      GROUP BY p.to_type
    ),
    p2 AS (
      SELECT p.to_type AS state, sum(p1.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p1
      JOIN pairs p ON p.from_type = p1.state
      JOIN rowsum r ON r.from_type = p1.state
      GROUP BY p.to_type
    ),
    p3 AS (
      SELECT p.to_type AS state, sum(p2.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p2
      JOIN pairs p ON p.from_type = p2.state
      JOIN rowsum r ON r.from_type = p2.state
      GROUP BY p.to_type
    ),
    p4 AS (
      SELECT p.to_type AS state, sum(p3.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p3
      JOIN pairs p ON p.from_type = p3.state
      JOIN rowsum r ON r.from_type = p3.state
      GROUP BY p.to_type
    ),
    p5 AS (
      SELECT p.to_type AS state, sum(p4.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p4
      JOIN pairs p ON p.from_type = p4.state
      JOIN rowsum r ON r.from_type = p4.state
      GROUP BY p.to_type
    ),
    p6 AS (
      SELECT p.to_type AS state, sum(p5.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p5
      JOIN pairs p ON p.from_type = p5.state
      JOIN rowsum r ON r.from_type = p5.state
      GROUP BY p.to_type
    ),
    p7 AS (
      SELECT p.to_type AS state, sum(p6.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p6
      JOIN pairs p ON p.from_type = p6.state
      JOIN rowsum r ON r.from_type = p6.state
      GROUP BY p.to_type
    ),
    p8 AS (
      SELECT p.to_type AS state, sum(p7.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p7
      JOIN pairs p ON p.from_type = p7.state
      JOIN rowsum r ON r.from_type = p7.state
      GROUP BY p.to_type
    ),
    p9 AS (
      SELECT p.to_type AS state, sum(p8.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p8
      JOIN pairs p ON p.from_type = p8.state
      JOIN rowsum r ON r.from_type = p8.state
      GROUP BY p.to_type
    ),
    p10 AS (
      SELECT p.to_type AS state, sum(p9.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p9
      JOIN pairs p ON p.from_type = p9.state
      JOIN rowsum r ON r.from_type = p9.state
      GROUP BY p.to_type
    ),
    p11 AS (
      SELECT p.to_type AS state, sum(p10.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p10
      JOIN pairs p ON p.from_type = p10.state
      JOIN rowsum r ON r.from_type = p10.state
      GROUP BY p.to_type
    ),
    p12 AS (
      SELECT p.to_type AS state, sum(p11.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p11
      JOIN pairs p ON p.from_type = p11.state
      JOIN rowsum r ON r.from_type = p11.state
      GROUP BY p.to_type
    ),
    p13 AS (
      SELECT p.to_type AS state, sum(p12.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p12
      JOIN pairs p ON p.from_type = p12.state
      JOIN rowsum r ON r.from_type = p12.state
      GROUP BY p.to_type
    ),
    p14 AS (
      SELECT p.to_type AS state, sum(p13.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p13
      JOIN pairs p ON p.from_type = p13.state
      JOIN rowsum r ON r.from_type = p13.state
      GROUP BY p.to_type
    ),
    p15 AS (
      SELECT p.to_type AS state, sum(p14.p_mu * p.n // r.tot)::BIGINT AS p_mu
      FROM p14
      JOIN pairs p ON p.from_type = p14.state
      JOIN rowsum r ON r.from_type = p14.state
      GROUP BY p.to_type
    )
    SELECT state AS event_type, p_mu AS stationary_mu
    FROM p15 ORDER BY event_type
    """,
    tags=("analytics", "markov", "stationary", "power-iteration"),
)
def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of q181's user-behavior Markov chain —
    the long-run share of time a user's session spends in each event
    state, the quantity behind steady-state capacity planning and the
    removal-effect denominators q428 uses. Fifteen power-iteration
    transitions (_SD_ITERS - 1; the 16th "iterate" is the seed vector
    itself) from the row-sum start; on this 5-state ergodic chain the
    iterate is stationary to well below mu-resolution long before step
    15.

    Determinism: the transition counts are exact integers; every step
    is pi'(j) = sum_i pi(i)*n(i,j) div tot(i) — integer multiply +
    truncating div (the tiny mass truncated per step is identical both
    engines); the oracle replays the identical fifteen transitions as
    chained CTEs (p1..p15).

    Scale posture (100 TB): ONE fact pass builds the |types|^2 count
    matrix (q181's shape); all fifteen transitions run on that bounded
    grid — 25-row joins, never a fact-sized operation. The iteration
    count is a shared literal, not a convergence loop."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rowsum = pairs.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("tot"))
    mat = pairs.join(rowsum, "from_type").select("from_type", "to_type", "n", "tot")
    mat = materialize(mat)  # 25-row grid, reused 15 times
    pi = rowsum.select(
        F.col("from_type").alias("state"),
        F.lit(_SD_START_MU).cast("bigint").alias("p_mu"),
    )
    for _ in range(_SD_ITERS - 1):
        pi = (
            pi.join(mat, pi.state == mat.from_type)
            .groupBy(F.col("to_type").alias("state2"))
            .agg(F.sum(F.expr("p_mu * n div tot")).cast("bigint").alias("p_mu"))
            .select(F.col("state2").alias("state"), "p_mu")
        )
    return pi.select(
        F.col("state").alias("event_type"), F.col("p_mu").alias("stationary_mu")
    ).orderBy("event_type")


# ---- q511: semi-Markov holding times -----------------------------------------


@query(
    "q511_semimarkov_holding_times",
    oracle="""
    WITH seq AS (
      SELECT event_type AS state,
             epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts)
               AS hold_us
      FROM events
    ),
    agg AS (
      SELECT state,
             count(hold_us)::BIGINT AS n,
             sum(hold_us)::BIGINT AS s1,
             sum(hold_us::HUGEINT * hold_us) AS s2,
             max(hold_us)::BIGINT AS max_us
      FROM seq WHERE hold_us IS NOT NULL
      GROUP BY state
    )
    SELECT state AS event_type, n,
           (s1 // n)::BIGINT AS mean_hold_us,
           CAST(floor(sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1))
                      / n) AS BIGINT) AS std_hold_us,
           max_us AS max_hold_us,
           -- exponential-fit rate in events per hour: 3600e6 / mean
           (3600000000 * n // s1)::BIGINT AS exp_rate_per_hour,
           -- coefficient of variation in milli-units: CoV=1 <=> memoryless
           CAST(floor(1000.0 * sqrt((CAST(n AS DOUBLE) * s2
                                     - CAST(s1 AS DOUBLE) * s1)) / s1)
                AS BIGINT) AS cov_milli
    FROM agg ORDER BY event_type
    """,
    tags=("analytics", "semi-markov", "holding-time", "dwell"),
)
def semimarkov_holding_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-Markov holding times — the missing half of the q181/q506
    behavior model: the Markov chain says WHERE a session goes next;
    this says HOW LONG it sits in each state first (time from an event
    to the user's next event, attributed to the departing state). The
    per-state mean/std/max, the exponential-fit rate, and the
    coefficient of variation — CoV ~ 1 means memoryless (a plain CTMC
    suffices), CoV >> 1 means bursty dwell (q334's global statistic,
    resolved per state).

    Determinism: holds are exact integer microseconds from one lag/lead
    window; moments are exact int64 sums (hold^2 ~ 1e22 for week-long
    holds... bounded here at ~1e17 by the fixture's horizon; the
    DECIMAL(38,0) note applies for year-scale holds); std/CoV each use
    one IEEE sqrt on exact integers, floored.

    Scale posture (100 TB): ONE user-partitioned window pass (the q108
    primitive) + one map-side-combined hash-agg to the |states| grid."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        F.col("event_type").alias("state"),
        (F.unix_micros(F.lead("ts").over(w).cast("timestamp")) - us).alias("hold_us"),
    ).filter(F.col("hold_us").isNotNull())
    agg = seq.groupBy("state").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hold_us").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(hold_us AS DECIMAL(38,0)) * hold_us")).alias("s2"),
        F.max("hold_us").cast("bigint").alias("max_us"),
    )
    return agg.select(
        F.col("state").alias("event_type"),
        "n",
        F.expr("s1 div n").cast("bigint").alias("mean_hold_us"),
        F.expr(
            "CAST(floor(sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)) / n) AS BIGINT)"
        ).alias("std_hold_us"),
        F.col("max_us").alias("max_hold_us"),
        F.expr("3600000000 * n div s1").cast("bigint").alias("exp_rate_per_hour"),
        F.expr(
            "CAST(floor(1000.0 * sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)) / s1) AS BIGINT)"
        ).alias("cov_milli"),
    ).orderBy("event_type")
