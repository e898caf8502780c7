"""Sinks: the CMS-sync upsert target (R15, guide:3) via foreachBatch.

`foreach_batch_upsert` maintains a parquet "document table" keyed by the
content-operation key: each micro-batch's latest-state rows are merged with
the existing table (newest event time wins, deletes drop keys) and the table
is swapped in by rename. At test scale this is a read-merge-rewrite; on a real
deployment the same callback body becomes a Delta/Iceberg `MERGE INTO`
(jars not in this image — SURVEY.md §4.2 physical-layout notes), with the
table partitioned by event date so merges only rewrite touched partitions.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["organization_id", "id", "branch", "published"]


def merge_latest(existing: DataFrame | None, updates: DataFrame) -> DataFrame:
    """Newest-wins merge of update rows into the existing table; rows whose
    winning operation is a delete are removed (guide:72 replace-or-delete).

    On an event-time tie the update beats the table row: the keyed state
    already broke that tie by arrival sequence before emitting the update,
    and the table row came from an earlier epoch."""
    merged = updates.withColumn("_incoming", F.lit(True))
    if existing is not None:
        merged = existing.withColumn("_incoming", F.lit(False)).unionByName(merged)
    w = Window.partitionBy(*KEY).orderBy(
        F.col("last_us").desc(), F.col("_incoming").desc()
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_incoming")
        .filter(F.col("last_operation").startswith("insert-"))
    )


def foreach_batch_upsert(table_dir: str):
    """Build a foreachBatch callback that upserts latest-state rows into a
    parquet table at `table_dir` (exactly-once via idempotent newest-wins
    merge + directory swap).

    The swap renames the table aside (`<table>.old`), renames the new
    version in, then deletes the old one, so at every instant one complete
    table exists on disk. A crash between the two renames leaves only
    `.old`; the next call (the replayed epoch) puts it back before merging,
    instead of rebuilding the table from that one batch and losing every
    key the batch does not carry."""
    old = f"{table_dir}.old"

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(old):
            if os.path.exists(table_dir):
                shutil.rmtree(old)  # crashed after the swap: stale copy
            else:
                os.rename(old, table_dir)  # crashed mid-swap: restore
        existing = None
        if os.path.exists(table_dir):
            existing = spark.read.parquet(table_dir)
        merged = merge_latest(existing, batch_df)
        tmp = f"{table_dir}.tmp-{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # materialize before swap (merged lazily reads table_dir)
        if existing is not None:
            os.rename(table_dir, old)
        os.rename(tmp, table_dir)
        if existing is not None:
            shutil.rmtree(old)

    return apply


def foreach_batch_split_router(base_dir: str, pred_sql: str):
    """Multi-sink ROUTER with one atomic commit for both outputs: each
    micro-batch splits on `pred_sql` and writes one route-partitioned
    epoch directory — true-rows to `<base>/epoch=N/route=valid` and
    false/NULL-rows to `<base>/epoch=N/route=quarantine` — then publishes
    ONE manifest for the epoch (tmp + atomic rename) covering both
    leaves; `read_routed`/the manifests are the sanctioned read path.
    Readers consult manifests only, so
    a crash between the two writes — or a Structured Streaming batch
    RETRY after either write — can never surface a half-routed epoch: the
    replayed epoch sees its manifest missing, rewrites both directories
    (overwrite), and re-publishes. This is the transactional multi-table
    publish every valid/dead-letter splitter needs; with a real table
    format both writes become one transaction — the manifest here plays
    that role."""
    import json

    os.makedirs(os.path.join(base_dir, "_manifests"), exist_ok=True)

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        manifest = os.path.join(base_dir, "_manifests", f"{epoch_id}.json")
        if os.path.exists(manifest):
            return  # replayed, already fully committed — idempotent skip
        epoch_dir = os.path.join(base_dir, f"epoch={epoch_id}")
        valid_dir = os.path.join(epoch_dir, "route=valid")
        quar_dir = os.path.join(epoch_dir, "route=quarantine")
        # Route the COMPLEMENT, not the negation: a NULL predicate (malformed
        # input — exactly what a dead-letter router exists for) is false under
        # both `pred` and `NOT pred`, which would drop the row from BOTH
        # outputs. coalesce(pred, false) makes NULL land in quarantine, so
        # every input row reaches exactly one sink (no-record-lost contract).
        ok = f"coalesce(({pred_sql}), false)"
        # the router writes its own `route` partition column; a stream that
        # already carries one would be silently overwritten AND stripped
        # from the data files by partitionBy — refuse loudly instead
        if "route" in batch_df.columns:
            raise ValueError(
                "split router: incoming batch already has a 'route' column"
            )
        batch_df.persist()
        try:
            # one pass for both manifest counts, one route-partitioned write
            # for both sinks (was 2 counts + 2 filtered writes = 4 jobs per
            # epoch; guide §1.2 — don't re-run the batch per output). The
            # dynamic partition column routes each row to exactly one leaf
            # directory; both leaves still commit atomically via the single
            # manifest rename below.
            counts = batch_df.agg(
                F.sum(F.expr(f"CASE WHEN {ok} THEN 1 ELSE 0 END")).alias("nv"),
                F.sum(F.expr(f"CASE WHEN {ok} THEN 0 ELSE 1 END")).alias("nq"),
            ).first()
            n_valid = int(counts["nv"] or 0)
            n_quar = int(counts["nq"] or 0)
            (
                batch_df.withColumn(
                    "route",
                    F.expr(f"CASE WHEN {ok} THEN 'valid' ELSE 'quarantine' END"),
                )
                .write.mode("overwrite")
                .partitionBy("route")
                .parquet(epoch_dir)
            )
        finally:
            batch_df.unpersist()
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "epoch": epoch_id,
                    "valid": valid_dir,
                    "n_valid": n_valid,
                    "quarantine": quar_dir,
                    "n_quarantine": n_quar,
                },
                f,
            )
        os.replace(tmp, manifest)  # single atomic publish for BOTH sinks

    return apply


def read_routed(spark, base_dir: str):
    """Read back ONLY manifest-committed epochs of both router outputs,
    tagged with their route."""
    import glob
    import json

    valid_dirs, quar_dirs = [], []
    for m in sorted(glob.glob(os.path.join(base_dir, "_manifests", "*.json"))):
        with open(m) as f:
            mf = json.load(f)
        if mf["n_valid"]:
            valid_dirs.append(mf["valid"])
        if mf["n_quarantine"]:
            quar_dirs.append(mf["quarantine"])
    parts = []
    if valid_dirs:
        parts.append(
            spark.read.parquet(*valid_dirs).withColumn("route", F.lit("valid"))
        )
    if quar_dirs:
        parts.append(
            spark.read.parquet(*quar_dirs).withColumn("route", F.lit("quarantine"))
        )
    if not parts:
        # no committed epochs yet, or every committed epoch was empty — a
        # valid state for a manifest-gated reader: empty frame, no route rows
        return spark.createDataFrame([], "route string")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
