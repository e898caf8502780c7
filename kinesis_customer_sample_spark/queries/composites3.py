"""Third wave: market-share composite, batch sessionization, corpus
curation, Z-order clustering.

Registered LAST (queries/__init__.py ordering contract): new-this-round
queries must not displace proven-green families in a time-capped driver
walk.

- q107: TPC-H Q8 shape (nation market share inside a region) — the widest
  join tree in the repo: 8 relations, two roles for nation.
- q108: batch sessionization (gaps-and-islands) — the batch twin of the
  q53 streaming session window, built from lag + conditional cumulative
  sum; the standard sessionize shape for event logs at rest.
- q109: corpus curation — the end-to-end training-data gate: exact-dup
  keeper election ∧ quality threshold ∧ language-ID vote, composed into
  one dataset-card rollup. Each stage reuses the exact arithmetic of its
  standalone query (q67/q64/q63) so the composition is oracle-verified
  too.
- q110: Z-order clustering — multi-column data layout for scan pruning;
  write path + lossless round-trip proven by the oracle, clustering
  effectiveness proven by footer-stats assertions in tests/test_zorder.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import duck_fixed_sum, fixed_sum
from kinesis_customer_sample_spark.operators.zorder import zorder_key
from kinesis_customer_sample_spark.queries.text_analysis import _DUCK_TOKS, _LEXICON
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import scratch

_MKT_NATION = "NATION_18"
_MKT_REGION = "EUROPE"
_MKT_PTYPE = "PROMO"


@query(
    "q107_market_share",
    oracle=f"""
    SELECT o_year,
           round(round(sum(CAST(round((CASE WHEN supp_nation = '{_MKT_NATION}'
                                       THEN volume ELSE 0 END) * 10000) AS BIGINT))
                       / 10000.0, 2)
                 / round(sum(CAST(round(volume * 10000) AS BIGINT)) / 10000.0, 2),
                 6)                           AS mkt_share,
           round(sum(CAST(round(volume * 10000) AS BIGINT)) / 10000.0, 2)
                                              AS total_volume,
           count(*)::BIGINT                   AS n_items
    FROM (
      SELECT year(o_orderdate)::BIGINT AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = '{_MKT_REGION}' AND p_type = '{_MKT_PTYPE}')
    GROUP BY o_year
    """,
    tags=("relational", "join", "composite", "tpch-q8"),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: {nation}'s share of {ptype} order volume sold to
    {region} customers, by order year. Eight-relation join tree — the
    widest in the repo — with nation playing two roles. Plan posture at
    100 TB: part/lineitem/orders/customer/supplier are all fact-scale, so
    they shuffle on their join keys (the p_type filter is pushed into the
    part scan, shrinking the first build side before its shuffle); only
    nation (×2, distinct roles) and region broadcast. The region
    predicate is applied to customer BEFORE it meets the fact chain
    (customer ⋈ nation ⋈ region are map-side broadcast joins), so the
    orders⋈customer shuffle carries a ~1/|regions| slice of customers
    rather than filtering after the join — Catalyst can't make this
    reorder itself without CBO stats, and at 100 TB it is the difference
    between shuffling all customers and a fifth of them. The share
    divides two already-rounded sums so the ratio is deterministic
    across engines (registry parity rules)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == _MKT_PTYPE).select("p_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = F.broadcast(table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")))
    n2 = F.broadcast(table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")))
    r = F.broadcast(
        table(spark, sf_dir, "region").filter(F.col("r_name") == _MKT_REGION).select("r_regionkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == _MKT_NATION, vol).otherwise(F.lit(0.0))
    c_in_region = (
        c.join(n1, F.col("c_nationkey") == F.col("c_nkey"))
        .join(r, F.col("c_rkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c_in_region, F.col("o_custkey") == F.col("c_custkey"))
        .join(n2, F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.round(F.sum(F.round(nation_vol * 10000).cast("bigint")) / 10000.0, 2)
                / F.round(F.sum(F.round(vol * 10000).cast("bigint")) / 10000.0, 2),
                6,
            ).alias("mkt_share"),
            fixed_sum(vol, scale=4).alias("total_volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SESSION_GAP_US = 12 * 3600 * 1_000_000  # 12h: events median inter-gap ≈ 7.3h


@query(
    "q108_sessionize_batch",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, value, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
      FROM g
    )
    SELECT user_id, session_seq,
           count(*)::BIGINT                                   AS n_events,
           -- exact integer microseconds: seconds-with-round lands on .xxx5
           -- ties that HALF_UP (Spark) and binary-double (DuckDB) split
           min(epoch_us(ts))::BIGINT                          AS session_start_us,
           (max(epoch_us(ts)) - min(epoch_us(ts)))::BIGINT    AS duration_us,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
                                                              AS total_value,
           count(DISTINCT event_type)::BIGINT                 AS n_event_types
    FROM s
    GROUP BY user_id, session_seq
    """,
    tags=("window", "sessionize", "gaps-and-islands"),
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks when the
    per-user inter-event gap exceeds 12h. lag → boundary flag → cumulative
    sum assigns session ids, then one hash agg per (user, session). The
    batch twin of the q53 streaming session window. Scale posture: both
    windows and the final agg partition by user_id — one shuffle on the
    natural key, each user's timeline sorted independently; no global
    ordering anywhere."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    is_new = F.when(
        prev_us.isNull() | ((us - prev_us) > _SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
        )
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(us).cast("bigint").alias("session_start_us"),
        (F.max(us) - F.min(us)).cast("bigint").alias("duration_us"),
        fixed_sum(F.col("value"), scale=6).alias("total_value"),
        F.countDistinct("event_type").cast("bigint").alias("n_event_types"),
    )


_QUALITY_MIN = 0.70  # keeps ~60% of the fixture corpus (p10 ≈ 0.67, median ≈ 0.72)


@query(
    "q109_corpus_curation",
    oracle=f"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY sha256(lower(trim(text)))
    ),
    t AS (SELECT doc_id, source, n_chars, {_DUCK_TOKS} AS toks FROM documents),
    q AS (
      SELECT doc_id, source, len(toks) AS n_tokens,
             round(0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
                 + 0.3 * (1 - len(list_filter(toks, x -> x IN ('a', 'the')))::DOUBLE
                              / len(toks))
                 + 0.3 * least(len(toks) / 60.0, 1.0), 6) AS quality
      FROM t
    ),
    toks AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    lex(cand_lang, tok, weight) AS (VALUES
      {", ".join(f"('{lang}', '{tok}', {w})" for lang, tok, w in _LEXICON)}),
    votes AS (
      SELECT t.doc_id, l.cand_lang, sum(l.weight) AS score
      FROM toks t JOIN lex l USING (tok)
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, cand_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand_lang) AS rk
      FROM votes
    ),
    curated AS (
      SELECT q.doc_id, q.source, q.n_tokens, q.quality,
             coalesce(b.cand_lang, 'und') AS pred_lang
      FROM q
      JOIN keepers k ON q.doc_id = k.doc_id
      LEFT JOIN best b ON q.doc_id = b.doc_id AND b.rk = 1
      WHERE q.quality >= {_QUALITY_MIN}
    )
    SELECT source, pred_lang,
           count(*)::BIGINT          AS n_docs,
           sum(n_tokens)::BIGINT     AS total_tokens,
           -- quality is already round(…,6); sum it as exact micro-units so
           -- the mean is summation-order-independent across engines
           round(sum(round(quality * 1000000)::BIGINT)::DOUBLE
                 / count(*) / 1000000.0, 6) AS avg_quality
    FROM curated
    GROUP BY source, pred_lang
    """,
    tags=("pipeline", "curation", "composite", "dedup", "quality", "lang-id"),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation gate: keep each exact-dup
    group's keeper (q67's sha256 election), require heuristic quality ≥
    0.70 (q64's formula), tag with the language-ID vote (q63's lexicon
    argmax), and report the dataset card per (source, predicted lang).
    Every stage reuses the standalone query's exact arithmetic, so the
    composite is hash-verified end to end. Scale posture: ONE tokenize +
    explode pass feeds both scorers — the lexicon is small enough to fold
    into the per-doc aggregation as conditional sums (one score column
    per language), so the vote needs no lexicon join, no second window,
    and no re-tokenize; the argmax is a codegen'd greatest()/when chain.
    The keeper election is a hash agg on the content hash with the winner
    set semi-joined back (no row payloads through the dup shuffle); final
    agg is a plain map-side-partial rollup."""
    d = table(spark, sf_dir, "documents")
    keepers = (
        d.groupBy(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    ex = d.select(
        "doc_id",
        "source",
        F.explode_outer(
            F.expr(
                "filter(split(regexp_replace(lower(text), '[^a-z ]', ''), ' '), t -> t != '')"
            )
        ).alias("tok"),
    )
    langs = sorted({lang for lang, _, _ in _LEXICON})
    score_cols = []
    for lang in langs:
        expr = None
        for lg, tok, w in _LEXICON:
            if lg != lang:
                continue
            term = F.when(F.col("tok") == tok, F.lit(w))
            expr = term if expr is None else expr.when(F.col("tok") == tok, F.lit(w))
        score_cols.append(F.coalesce(F.sum(expr), F.lit(0)).alias(f"s_{lang}"))
    per_doc = ex.groupBy("doc_id", "source").agg(
        F.count("tok").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.count(F.when(F.col("tok").isin("a", "the"), 1)).alias("n_stop"),
        *score_cols,
    )
    n = F.col("n_tokens").cast("double")
    quality = F.round(
        0.4 * (F.col("n_distinct") / n)
        + 0.3 * (1 - F.col("n_stop") / n)
        + 0.3 * F.least(n / 60.0, F.lit(1.0)),
        6,
    )
    best_score = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.when(best_score <= 0, F.lit("und"))
    for lang in langs:  # alphabetical = q63's (score DESC, lang ASC) tie-break
        pred = pred.when(F.col(f"s_{lang}") == best_score, F.lit(lang))
    curated = (
        per_doc.withColumn("quality", quality)
        .withColumn("pred_lang", pred)
        .filter(F.col("quality") >= _QUALITY_MIN)
        .join(keepers, "doc_id", "left_semi")
    )
    micro_q = F.round(F.col("quality") * 1_000_000).cast("bigint")
    return curated.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(micro_q).cast("double") / F.count(F.lit(1)) / 1_000_000.0, 6
        ).alias("avg_quality"),
    )


@query(
    "q110_zorder_clustering",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice
    FROM orders
    """,
    tags=("layout", "zorder", "clustering", "sink"),
)
def zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering of the orders table on (o_custkey, o_orderdate):
    interleave the two key columns' bits into one Morton key, range-
    partition and sort the data by it, and write parquet. Every output
    file then covers a small rectangle of the (customer, date) plane, so
    parquet min/max footer stats prune files/row-groups for predicates on
    EITHER column — the multi-dimensional generalization of the one-key
    range compaction in operators/compaction.py, and the layout Delta's
    OPTIMIZE ZORDER produces at 100 TB. The oracle states the source
    rows, so the hash match proves the re-layout is lossless; clustering
    effectiveness (per-file bounding boxes ≪ global extent) is asserted
    from real footer stats in tests/test_zorder.py."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    x = (F.col("o_custkey") % 65536).cast("long")
    y = (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 65536).cast("long")
    clustered = (
        o.withColumn("zkey", zorder_key(x, y, bits=16))
        .repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
    )
    out = scratch("q110")
    clustered.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "q111_stream_stream_join",
    oracle="""
    SELECT p.user_id,
           count(*)::BIGINT                   AS n_attributed,
           count(DISTINCT p.event_id)::BIGINT AS n_purchases,
           round(sum(CAST(round(p.value * 1000000) AS BIGINT)) / 1000000.0, 2)
                                              AS attributed_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 72 HOUR AND p.ts
    GROUP BY p.user_id
    """,
    tags=("streaming", "join", "stream-stream", "interval"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — the last Structured Streaming join
    family: click→purchase attribution pairing each purchase with the
    same user's clicks in the preceding 72h. Both sides are REAL streams
    (two file-source replays of events) with 1h watermarks; the
    event-time range condition lets Spark bound the join state — without
    it, both sides' state grows forever, the canonical stream-stream
    scale failure. Executed to exhaustion via availableNow, then the
    emitted pairs roll up per user; the oracle is the equivalent batch
    self-join, so the driver hash-checks stream/batch equivalence.

    State posture at 100 TB: state is keyed by user_id (the equi-key) and
    expired by watermark + range, so steady-state size ≈ one click-window
    per active user, independent of stream length."""
    from kinesis_customer_sample_spark.streaming.replay import events_stream, run_to_completion

    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.col("ts").alias("purchase_ts"), "value")
        .withWatermark("purchase_ts", "1 hour")
    )
    pairs = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 72 HOURS"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    rows = run_to_completion(pairs, output_mode="append")
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.countDistinct("event_id").alias("n_purchases"),
        fixed_sum(F.col("value"), scale=6).alias("attributed_value"),
    )


_BIGORDER_QTY = 300


@query(
    "q112_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > {_BIGORDER_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2)     AS o_totalprice,
           round(sum(l_quantity), 2)  AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("relational", "join", "composite", "subquery-in", "tpch-q18"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — IN over an aggregated subquery: orders whose total
    line quantity exceeds a threshold, joined back to their customers. The IN
    lands as a left-semi join against the HAVING-filtered aggregate; at
    100 TB the qualifying-order set is tiny (heavy-hitter detection), so
    Catalyst broadcasts it and the fact tables never reshuffle for the
    membership test. Top-100 via TakeOrderedAndProject, never a global
    sort."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > _BIGORDER_QTY)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, F.col("o_orderkey") == F.col("big_okey"), "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_Q17_BRAND = "Brand#9"


@query(
    "q113_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_cut
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT count(*)::BIGINT                               AS n_small_lines,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                 / 7.0, 2)                                    AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = '{_Q17_BRAND}'
      AND l_quantity < qty_cut
    """,
    tags=("relational", "join", "composite", "correlated-subquery", "tpch-q17"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part average
    quantity), decorrelated into an aggregate + equi-join: the only form
    that scales (a correlated re-scan per outer row is quadratic). The
    per-part averages are one map-side-partial agg over lineitem keyed on
    l_partkey — the same key the join needs, so AQE reuses the shuffle
    partitioning; the brand filter is pushed into the part scan and
    shrinks the probe before the join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg((0.2 * F.avg("l_quantity")).alias("qty_cut"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == _Q17_BRAND).select("p_partkey")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")) / 100.0
                / 7.0,
                2,
            ).alias("avg_yearly"),
        )
    )


_HIST_BUCKET = 25_000


@query(
    "q114_histogram",
    oracle=f"""
    SELECT CAST(floor(o_totalprice / {_HIST_BUCKET}) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / {_HIST_BUCKET}) AS BIGINT) * {_HIST_BUCKET}
                                         AS bucket_lo,
           count(*)::BIGINT              AS n_orders,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
                                         AS bucket_value,
           round(100.0 * count(*) / (SELECT count(*) FROM orders), 4)
                                         AS pct
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("aggregation", "histogram", "profiling"),
)
def histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value — the distribution-profiling
    primitive (data cards, skew diagnosis, partition-size planning). One
    map-side-partial hash agg over ~20 bucket keys plus a broadcast scalar
    for the percentage; bucket ids are exact floor division of 2-decimal
    values so both engines bin identically."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / _HIST_BUCKET).cast("bigint")
    total = o.count()  # scalar subquery twin; one lightweight count job
    return (
        o.groupBy(
            bucket.alias("bucket"), (bucket * _HIST_BUCKET).alias("bucket_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_sum(F.col("o_totalprice")).alias("bucket_value"),
        )
        .withColumn(
            "pct", F.round(100.0 * F.col("n_orders") / F.lit(total), 4)
        )
    )


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@query(
    "q115_data_profile",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{c}'                              AS column_name,
           count(*)::BIGINT                   AS n_rows,
           (count(*) - count({c}))::BIGINT    AS n_nulls,
           count(DISTINCT {c})::BIGINT        AS n_distinct,
           substring(min(CAST({c} AS VARCHAR)), 1, 16) AS min_val,
           substring(max(CAST({c} AS VARCHAR)), 1, 16) AS max_val
    FROM documents"""
        for c in _PROFILE_COLS
    ),
    tags=("profiling", "metadata", "aggregation"),
)
def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile (row/null/distinct counts, lexicographic
    min/max) — the schema-audit every ingestion run records. One scan per
    column batched into a single union plan; every branch is a map-side-
    partial global agg, so the whole profile costs one pass worth of I/O
    with column pruning per branch. String casts make the output schema
    uniform; min/max truncate to 16 chars so payload columns don't ship
    megabytes to the profile table."""
    d = table(spark, sf_dir, "documents")
    parts = []
    for c in _PROFILE_COLS:
        s = F.col(c).cast("string")
        parts.append(
            d.select(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.substring(F.min(s), 1, 16).alias("min_val"),
                F.substring(F.max(s), 1, 16).alias("max_val"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _mix_fold(terms: list[str]) -> str:
    """Nested ((a*31 + b) % P) fold over already-reduced int64 terms —
    identical text in both SQL dialects (pure arithmetic + CAST)."""
    from kinesis_customer_sample_spark.functions import MOD_P

    acc = terms[0]
    for t in terms[1:]:
        acc = f"(({acc}) * 31 + ({t})) % {MOD_P}"
    return acc


def _lineitem_row_mix(dialect: str) -> str:
    from kinesis_customer_sample_spark.functions import MOD_P

    if dialect == "spark":
        days = "datediff(l_shipdate, DATE '1992-01-01')"
    else:
        days = "datediff('day', DATE '1992-01-01', l_shipdate)"
    return _mix_fold(
        [
            f"l_orderkey % {MOD_P}",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "CAST(round(l_quantity * 100) AS BIGINT)",
            "CAST(round(l_extendedprice * 100) AS BIGINT)",
            "CAST(round(l_discount * 100) AS BIGINT)",
            "CAST(round(l_tax * 100) AS BIGINT)",
            "ascii(l_returnflag)",
            "ascii(l_linestatus)",
            days,
        ]
    )


@query(
    "q116_table_checksum",
    oracle=f"""
    WITH mixed AS (SELECT {_lineitem_row_mix("duckdb")} AS row_mix FROM lineitem)
    SELECT count(*)::BIGINT    AS n_rows,
           bit_xor(row_mix)    AS xor_checksum,
           min(row_mix)        AS min_mix,
           max(row_mix)        AS max_mix
    FROM mixed
    """,
    tags=("validation", "checksum", "porthash"),
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive whole-table checksum: every row folds its columns
    through the portable (a*31+b) % P mix (pure codegen'd int64
    arithmetic — no per-character lambdas on the hot path), then XOR-
    aggregates. The 100 TB data-validation primitive: map-only scan, one
    scalar result, commutative so partition order / resharding / engine
    never changes it — the cheap way to prove a migration, replication,
    or compaction moved every row intact (same role as ORC/Iceberg
    content checksums). XOR (not sum) so the aggregate can't overflow at
    any row count."""
    li = table(spark, sf_dir, "lineitem")
    mixed = li.select(F.expr(_lineitem_row_mix("spark")).alias("row_mix"))
    return mixed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(row_mix)").alias("xor_checksum"),
        F.min("row_mix").alias("min_mix"),
        F.max("row_mix").alias("max_mix"),
    )


@query(
    "q117_stream_dedup_watermark",
    oracle="""
    SELECT event_id, event_type, user_id, round(value, 2) AS value
    FROM events
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state: the events stream is
    unioned with a second replay of itself (every record arrives twice —
    the at-least-once delivery the reference's Kinesis consumers must
    tolerate, guide:13) and `dropDuplicatesWithinWatermark` on event_id
    emits each event exactly once. The watermark bounds the dedup state:
    keys older than the watermark are expired, so state size tracks the
    duplicate-arrival window, not the stream length — the property that
    makes exactly-once-per-key feasible on an unbounded 100 TB stream.
    Oracle: the batch table itself (each event once) — stream/batch
    equivalence, hash-checked."""
    from kinesis_customer_sample_spark.streaming.replay import events_stream, run_to_completion

    ev1 = events_stream(spark, sf_dir)
    ev2 = events_stream(spark, sf_dir)
    deduped = (
        ev1.unionByName(ev2)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    rows = run_to_completion(deduped, output_mode="append")
    return rows.select(
        "event_id", "event_type", "user_id", F.round("value", 2).alias("value")
    )
