"""One-off scale-escalation runs of the headline operator shapes.

The standing suite (`tests/test_scale_smoke.py`) proves these shapes at
2M–20M rows inside the pytest budget; this script re-runs the same
shapes with the same EXACT invariants at 10×–40× that, as recorded in
SCALE.md's "Round-14 one-off scale escalation" ledger entries. It is
deliberately NOT a test: a full pass takes ~3 minutes on local[32] and
belongs in a round's strong-record battery, not in every pytest run.

Usage: python scripts/scale_escalation.py [shape ...]
Shapes: sessionize salted_join rollup_cascade stream_stream semantic_dedup
        cc_chains bom_walk minhash_band sorted_neighborhood
        (default: all, at the SCALE.md-recorded sizes)

Each run prints one line: SHAPE <name> <size>: <invariant>=OK|FAIL (<sec>s).
Exit code is non-zero if any invariant fails.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from kinesis_customer_sample_spark.session import get_spark  # noqa: E402


def _synth_events(spark, n: int, n_users: int):
    return spark.range(n).select(
        (F.col("id") % n_users).alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") % 977) * 3600 + F.col("id") % 59
        ).alias("ts"),
        ((F.col("id") * 7) % 100).cast("double").alias("value"),
    )


def sessionize(spark, n: int = 200_000_000, n_users: int = 2_000_000) -> bool:
    """q108's gaps-and-islands shape: every event lands in exactly one
    session (one user_id shuffle, linear in rows)."""
    ev = _synth_events(spark, n, n_users)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | ((us - F.unix_micros(prev)) > 12 * 3600 * 1_000_000), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn("sid", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sess.agg(F.sum("n")).collect()[0][0] == n


def salted_join(spark, n: int = 50_000_000) -> bool:
    """q129's salting on a pathological hot key (80% of probes on one
    key, broadcast disabled): salted(16) aggregate == plain aggregate."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        S = 16
        probe = spark.range(n).select(
            F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 1000).alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        build = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        plain = (
            probe.join(build, "k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s"))
            .collect()[0]
        )
        sp = probe.withColumn("salt", (F.xxhash64("v") % S + S) % S).alias("p")
        rep = build.withColumn(
            "salt", F.explode(F.expr(f"sequence(0, {S - 1})"))
        ).alias("b")
        salted = (
            sp.join(
                rep,
                (F.col("p.k") == F.col("b.k")) & (F.col("p.salt") == F.col("b.salt")),
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s"))
            .collect()[0]
        )
        return (plain.n, plain.s) == (salted.n, salted.s)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def rollup_cascade(spark, n: int = 50_000_000, n_users: int = 500_000) -> bool:
    """q123's cascade: hour→day→month re-aggregation equals the direct
    monthly aggregate exactly (fixed-point integer measures)."""
    ev = _synth_events(spark, n, n_users)
    v_us = F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(v_us).alias("v")
    )
    cascade = (
        hourly.groupBy(F.date_trunc("day", "h").alias("d"))
        .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
        .groupBy(F.date_trunc("month", "d").alias("m"))
        .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    )
    direct = ev.groupBy(F.date_trunc("month", "ts").alias("m")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(v_us).alias("v")
    )
    got = {r.m: (r.n, r.v) for r in cascade.collect()}
    want = {r.m: (r.n, r.v) for r in direct.collect()}
    return got == want and len(want) > 0


def stream_stream(spark, n: int = 20_000_000, n_users: int = 100_000) -> bool:
    """q111's stream-stream interval join replayed over time-ordered
    files: streamed pair count == batch self-join exactly."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "ss_events")
        ev = spark.range(n).select(
            (F.col("id") % n_users).alias("user_id"),
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") / n_users).cast("long") * 31
            ).alias("ts"),
            F.when(F.col("id") % 11 == 0, "purchase").otherwise("click").alias(
                "event_type"
            ),
        )
        # replay files must be time-ordered, else the watermark correctly
        # drops late files (watermark semantics, not the equivalence here)
        ev.repartitionByRange(400, "ts").sortWithinPartitions("ts").write.mode(
            "overwrite"
        ).parquet(src)
        batch = spark.read.parquet(src)
        clicks_b = batch.filter("event_type = 'click'").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
        purch_b = batch.filter("event_type = 'purchase'").select(
            "user_id", "event_id", F.col("ts").alias("purchase_ts")
        )
        cond = (
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
        )
        expected = purch_b.join(clicks_b, cond).count()
        stream = spark.readStream.schema(batch.schema).option(
            "maxFilesPerTrigger", "40"
        ).parquet(src)
        clicks_s = (
            stream.filter("event_type = 'click'")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "30 minutes")
        )
        purch_s = (
            stream.filter("event_type = 'purchase'")
            .select("user_id", "event_id", F.col("ts").alias("purchase_ts"))
            .withWatermark("purchase_ts", "30 minutes")
        )
        out_dir = os.path.join(tmp, "out")
        q = (
            purch_s.join(clicks_s, cond, "inner")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).count() == expected


def semantic_dedup(spark, n: int = 5_000_000) -> bool:
    """q153's bucket → representative → broadcast-join-back shape: every
    vector joins exactly one representative; reps self-score cos ≈ 1."""
    from kinesis_customer_sample_spark.functions.porthash import dot64_expr, norm_expr
    from kinesis_customer_sample_spark.queries.similarity import _hyperplane_bucket

    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), "
            "d -> CAST((id * 31 + d * 17) % 97 - 48 AS FLOAT) / 48.0)"
        ).alias("embedding"),
    )
    e = (
        vecs.repartition(spark.sparkContext.defaultParallelism)
        .withColumn("bucket", F.expr(_hyperplane_bucket("embedding", dialect="spark")))
        .withColumn("en", F.expr(norm_expr("embedding")))
    )
    reps = F.broadcast(
        e.groupBy("bucket")
        .agg(
            F.min("vec_id").alias("rep_id"),
            F.min_by("embedding", "vec_id").alias("rep_emb"),
        )
        .withColumn("rep_n", F.expr(norm_expr("rep_emb")))
    )
    cos = F.round(
        F.expr(dot64_expr("embedding", "rep_emb")) / (F.col("en") * F.col("rep_n")), 6
    )
    out = e.join(reps, "bucket").select(
        "vec_id",
        (F.col("vec_id") == F.col("rep_id")).alias("is_rep"),
        cos.alias("c"),
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_rep") & (F.col("c") < 0.999999), 1).otherwise(0)).alias(
            "bad_rep"
        ),
    ).collect()[0]
    return agg["n"] == n and agg["bad_rep"] == 0


def cc_chains(spark, n: int = 10_000_000, chain: int = 8) -> bool:
    """q292's hash-min connected components on disjoint 8-node chains
    (diameter 7 forces multi-round propagation): every label must equal
    the chain head, and the component count must be exact."""
    from kinesis_customer_sample_spark.queries.graph_components import (
        hash_min_components,
    )

    e0 = (
        spark.range(n)
        .filter((F.col("id") % chain) != chain - 1)
        .select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    )
    labels = hash_min_components(e0)
    bad = labels.filter(
        F.col("lab") != (F.col("node") - (F.col("node") % chain))
    ).count()
    return bad == 0 and labels.select("lab").distinct().count() == n // chain


def bom_walk(spark, n: int = 20_000_000) -> bool:
    """q369's exact-depth lazy multiplicative walk (the shipped r14
    shape) on a 20M-node 10-ary tree: every non-root node lands in
    exactly one root's descendant count, in a single action."""
    import math

    edges = spark.range(10, n).select(
        F.col("id").alias("child"),
        F.expr("id div 10").alias("parent"),
        (F.col("id") % 3 + 1).alias("qty"),
    ).persist()
    depth = max(1, math.ceil(math.log10(n)))
    walk = edges.select(
        F.col("child").alias("node"), F.col("parent").alias("anc"),
        F.col("qty").alias("mult"),
    )
    frontier = walk
    for _ in range(depth):
        nxt = frontier.join(
            edges.select(
                F.col("child").alias("anc"), F.col("parent").alias("nxt_anc"),
                F.col("qty").alias("nxt_qty"),
            ),
            "anc",
        ).select(
            "node", F.col("nxt_anc").alias("anc"),
            (F.col("mult") * F.col("nxt_qty")).alias("mult"),
        )
        walk = walk.unionByName(nxt)
        frontier = nxt
    total = (
        walk.filter(F.col("anc") < 10)
        .groupBy("anc").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    edges.unpersist()
    return total == n - 10


def minhash_band(spark, n_docs: int = 2_500_000) -> bool:
    """q69's MinHash banding shuffle core at n_docs x 20 shingle
    postings: 1000 planted exact-duplicate pairs must all collide
    (recall 1.0), and the candidate set must stay bucket-blocked."""
    n_sh, mod_p, planted = 20, 1_000_000_007, 1000
    base = (
        f"CASE WHEN id < {2 * planted} THEN CAST(id DIV 2 AS BIGINT) "
        f"ELSE CAST(id AS BIGINT) + {10 * planted} END"
    )
    postings = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_sh - 1}), "
                f"j -> (({base}) * 524287 + CAST(j AS BIGINT) * 2654435761) % {mod_p})"
            )
        ).alias("h"),
    )
    mins = postings.groupBy("doc_id").agg(
        *[
            F.min(
                F.expr(f"(h * (17 + 2 * {i}) + CAST({i} AS BIGINT) * 97) % {mod_p}")
            ).alias(f"mh{i}")
            for i in range(16)
        ]
    )
    band_cols = []
    for b in range(4):
        acc = "7"
        for j in range(4):
            acc = f"(({acc}) * 31 + (mh{4 * b + j})) % {mod_p}"
        band_cols.append(F.expr(acc).alias(f"bh{b}"))
    bands = mins.select("doc_id", *band_cols).selectExpr(
        "doc_id", "stack(4, 0, bh0, 1, bh1, 2, bh2, 3, bh3) AS (b, bh)"
    )
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .persist()
    )
    n_cand = cand.count()
    n_found = cand.filter(
        (F.col("doc_a") % 2 == 0)
        & (F.col("doc_b") == F.col("doc_a") + 1)
        & (F.col("doc_a") < 2 * planted)
    ).count()
    cand.unpersist()
    return n_found == planted and n_cand < 200_000


def sorted_neighborhood(
    spark, n: int = 20_000_000, wsize: int = 3, planted: int = 100_000
) -> bool:
    """q518's sorted-neighborhood candidate generation at 20M titles with
    80% of rows in ONE first-char block — the exact token-value skew
    q431's equi-blocking squares on, and ALSO the case where q518's
    small-block window form would serialize the hot block into a single
    task. This runs the cluster posture q518's docstring states instead
    (range-partition the sort key; w-row adjacency recovered by a
    uniform equi-join on a global rank, which replicates block
    boundaries implicitly), and proves it EXACT: candidates ==
    sum_i sum_{j=1..w} max(0, B_i - j) (the blocked-SN formula, computed
    independently from the block histogram — linear, never block²), all
    planted duplicate pairs surface as offset-1 candidates, and no
    equal-title candidate exists beyond the planted ones.

    The global per-block rank is built scalably: repartitionByRange on
    (block, title, doc_id) → per-PARTITION row_number (each range
    partition is its own window group, so the hot block parallelizes
    across partitions instead of landing in one task) + cumulative
    partition-count offsets (a partition-count-sized collect, not data).
    """
    uid = f"CASE WHEN id < {2 * planted} THEN (id DIV 2) * 2 ELSE id END"
    titles = spark.range(n).selectExpr(
        "id AS doc_id",
        f"concat(CASE WHEN ({uid}) % 10 < 8 THEN 'a' "
        f"ELSE char(98 + ({uid}) % 19) END, "
        f"format_string('%012d', {uid})) AS title",
    )
    d = (
        titles.withColumn("blk", F.substring("title", 1, 1))
        .repartitionByRange(64, "blk", "title", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    # Global rank within sort order: per-partition row_number (parallel —
    # one window group per range partition) + broadcast cumulative offsets.
    wp = W.partitionBy("pid").orderBy("title", "doc_id")
    local = d.withColumn("rn", F.row_number().over(wp)).persist()
    sizes = sorted(local.groupBy("pid").count().collect())  # ≤ 64 rows
    offs, acc = {}, 0
    for pid, cnt in sizes:
        offs[pid] = acc
        acc += cnt
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offs.items()], "pid int, off long"
        )
    )
    ranked = local.join(off_df, "pid").select(
        "doc_id", "title", "blk", (F.col("rn") + F.col("off")).alias("gidx")
    )
    # Neighbor recovery: uniform equi-join on gidx (+1..+w), block-gated.
    # No per-block window anywhere — the hot block never concentrates.
    left = ranked.selectExpr(
        "doc_id", "title", "blk",
        f"explode(sequence(1, {wsize})) AS off", "gidx",
    ).withColumn("nb_gidx", F.col("gidx") + F.col("off"))
    right = ranked.select(
        F.col("gidx").alias("nb_gidx"),
        F.col("doc_id").alias("nb"),
        F.col("title").alias("nbt"),
        F.col("blk").alias("nb_blk"),
    )
    cand = (
        left.join(right, "nb_gidx")
        .filter(F.col("blk") == F.col("nb_blk"))
        .select("doc_id", "title", "off", "nb", "nbt")
        .persist()
    )
    n_cand = cand.count()
    expected = (
        titles.groupBy(F.substring("title", 1, 1).alias("blk"))
        .agg(F.count(F.lit(1)).alias("b"))
        .selectExpr(
            f"aggregate(sequence(1, {wsize}), 0L, "
            "(acc, j) -> acc + greatest(b - j, 0L)) AS c"
        )
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    dups = cand.filter(F.col("title") == F.col("nbt")).persist()
    n_dup = dups.count()
    n_planted_ok = dups.filter(
        (F.col("off") == 1)
        & (F.col("doc_id") % 2 == 0)
        & (F.col("nb") == F.col("doc_id") + 1)
        & (F.col("doc_id") < 2 * planted)
    ).count()
    dups.unpersist()
    cand.unpersist()
    local.unpersist()
    return (
        n_cand == expected
        and n_cand <= wsize * n
        and n_dup == planted
        and n_planted_ok == planted
    )


SHAPES = {
    "sessionize": (sessionize, "200M rows / 2M users"),
    "salted_join": (salted_join, "50M probe rows, hot key"),
    "rollup_cascade": (rollup_cascade, "50M rows"),
    "stream_stream": (stream_stream, "20M events"),
    "semantic_dedup": (semantic_dedup, "5M x 64d vectors"),
    "cc_chains": (cc_chains, "10M nodes, 1.25M chains"),
    "bom_walk": (bom_walk, "20M-node 10-ary tree"),
    "minhash_band": (minhash_band, "50M postings / 2.5M docs"),
    "sorted_neighborhood": (sorted_neighborhood, "20M titles, 80% hot block"),
}


def main() -> int:
    names = sys.argv[1:] or list(SHAPES)
    unknown = [n for n in names if n not in SHAPES]
    if unknown:
        print(f"unknown shape(s) {unknown}; valid: {', '.join(SHAPES)}")
        return 2
    spark = get_spark()
    failed = []
    for name in names:
        fn, size = SHAPES[name]
        t0 = time.perf_counter()
        ok = fn(spark)
        dt = time.perf_counter() - t0
        print(f"SHAPE {name} {size}: {'OK' if ok else 'FAIL'} ({dt:.1f}s)", flush=True)
        if not ok:
            failed.append(name)
    spark.stop()
    if failed:
        print(f"SHAPES FAILED: {failed}")
        return 1
    print("SHAPES FAILED: []")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
