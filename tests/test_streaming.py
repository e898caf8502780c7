"""Streaming semantics: stream/batch equivalence, stateful operators vs
their batch twins, watermark late-data handling, dedup, foreachBatch upsert
(SURVEY.md §5.2.3; guide:104-145 behaviors)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kinesis_customer_sample_spark import fixtures
from kinesis_customer_sample_spark.fixtures import SPARK_TS_FMT, content_ops_df
from kinesis_customer_sample_spark.queries.content_ops import (
    contentops_latest_state,
)
from kinesis_customer_sample_spark.queries.streaming_queries import (
    contentops_publish_exact,
)
from kinesis_customer_sample_spark.streaming.replay import events_stream, run_to_completion
from kinesis_customer_sample_spark.streaming.sinks import foreach_batch_upsert, merge_latest
from kinesis_customer_sample_spark.streaming.stateful import (
    latest_state_stream,
    publish_events_stream,
)


def _ops_with_us(spark):
    return (
        content_ops_df(spark)
        .withColumn("event_time", F.to_timestamp("date", SPARK_TS_FMT).cast("timestamp_ntz"))
    )


def _ops_stream(spark, tmpdir: str, n_files: int = 2, split: str = "round_robin"):
    """Replay the content-ops fixture as a file-source stream split across
    micro-batch files.

    split="round_robin" scatters ops across batches out of order — valid for
    order-insensitive operators (latest-state guards on event time).
    split="ordered" chunks by arrival sequence — the per-shard ordering the
    reference guarantees (guide:13), required by order-sensitive operators
    like exact publish detection.
    """
    ops = _ops_with_us(spark)
    pdf = ops.toPandas()
    # write micro-precision timestamps (pandas defaults to ns, which Spark's
    # parquet reader can't map back to timestamp_ntz)
    pdf["event_time"] = pdf["event_time"].astype("datetime64[us]")
    if split == "ordered":
        pdf = pdf.sort_values("op_id", ignore_index=True)
        chunk = (len(pdf) + n_files - 1) // n_files
        parts = [pdf.iloc[i * chunk : (i + 1) * chunk] for i in range(n_files)]
    else:
        parts = [pdf[pdf.index % n_files == i] for i in range(n_files)]
    for i, part in enumerate(parts):
        part.to_parquet(os.path.join(tmpdir, f"part-{i}.parquet"), index=False)
    return (
        spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmpdir)
    )


def test_stateful_latest_state_equals_batch(spark):
    """Streaming-aggregate latest-state == batch window latest-state (R9),
    across multiple micro-batches with out-of-order delivery."""
    with tempfile.TemporaryDirectory() as td:
        stream = _ops_stream(spark, td)
        out = run_to_completion(latest_state_stream(stream), output_mode="update")
        # update-mode memory sink appends each batch's emissions; keep newest per key
        final = (
            out.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy(
                        "organization_id", "id", "branch", "published"
                    ).orderBy(F.col("last_us").desc())
                ),
            )
            .filter("rn = 1")
            .filter(F.col("last_operation").startswith("insert-"))
        )
        got = {
            (r.organization_id, r.id, r.branch, r.published): r.body
            for r in final.collect()
        }
    batch = contentops_latest_state(spark, "")
    want = {
        (r.organization_id, r.id, r.branch, r.published): r.body for r in batch.collect()
    }
    assert got == want and len(want) == 7


def _final_latest_state(stream, ckpt: str) -> dict:
    """Run latest_state_stream over `stream` to completion; the last row
    emitted for a key is its final state. Returns the live documents."""
    emitted = []
    q = (
        latest_state_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: emitted.extend((epoch, r) for r in df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for _, r in sorted(emitted, key=lambda e: e[0]):
        final[(r.organization_id, r.id, r.branch, r.published)] = r
    return {
        k: r.body for k, r in final.items() if r.last_operation.startswith("insert-")
    }


# ties op 16 on event time for the same key; the higher op_id arrives later
_TIE_OP = (
    17, "otherorg", "insert-story", "2024-05-01T15:00:00Z", "story-9", "default",
    True, False, "story", "story-9", False, "standard", "editor",
    '{"headline": "other org v2"}',
)


@pytest.mark.parametrize("n_files", [1, 2, 5])
def test_latest_state_microbatch_invariant(spark, monkeypatch, tmp_path, n_files):
    """The content ops replayed as 1, 2 or 5 out-of-order files give the same
    final state, equal to the batch twin. Split round-robin, op 17 and the
    op 16 it ties on event time land in different micro-batches (op 17
    first when split in two): the later arrival wins, as in the batch
    twin's `event_time desc, op_id desc`."""
    monkeypatch.setattr(fixtures, "CONTENT_OPS", [*fixtures.CONTENT_OPS, _TIE_OP])
    src = tmp_path / "src"
    src.mkdir()
    stream = _ops_stream(spark, str(src), n_files=n_files)
    got = _final_latest_state(stream, str(tmp_path / "ckpt"))
    want = {
        (r.organization_id, r.id, r.branch, r.published): r.body
        for r in contentops_latest_state(spark, "").collect()
    }
    assert got == want and len(want) == 7
    assert got[("otherorg", "story-9", "default", True)] == '{"headline": "other org v2"}'


def test_latest_state_is_a_native_aggregate(spark, tmp_path):
    """Latest state runs as the engine's streaming aggregate, with no
    Python state function in the physical plan, and emits the
    LATEST_OUT_SCHEMA columns the upsert sink merges on."""
    from pyspark.sql.types import StructType

    from kinesis_customer_sample_spark.plans import plan_text
    from kinesis_customer_sample_spark.streaming.stateful import LATEST_OUT_SCHEMA

    out = latest_state_stream(_ops_stream(spark, str(tmp_path)))
    text = plan_text(out)
    assert "StateStoreSave" in text
    assert "FlatMapGroupsInPandasWithState" not in text
    want = StructType.fromDDL(LATEST_OUT_SCHEMA)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in want
    ]


@pytest.mark.parametrize(
    "make, out_schema",
    [
        ("hist_quantile_stream", "HIST_OUT_SCHEMA"),
        ("psi_drift_stream", "PSI_OUT_SCHEMA"),
    ],
)
def test_histogram_sketches_are_native_aggregates(spark, sf_dir, make, out_schema):
    """q439's and q457's bin counts are built-in streaming aggregates: the
    engine's state store holds them, no Python state function is in the
    physical plan, and the output keeps its declared columns."""
    from pyspark.sql.types import StructType

    from kinesis_customer_sample_spark.plans import plan_text
    from kinesis_customer_sample_spark.streaming import stateful

    ev = events_stream(spark, sf_dir).select("event_type", "ts", "value")
    out = getattr(stateful, make)(ev)
    text = plan_text(out)
    assert "StateStoreSave" in text
    assert "FlatMapGroupsInPandasWithState" not in text
    want = StructType.fromDDL(getattr(stateful, out_schema))
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        (f.name, f.dataType.simpleString()) for f in want
    ]


@pytest.mark.parametrize(
    "name",
    [
        "q233_contentops_streaming_e2e",
        "q245_stream_session_timeout",
        "q254_stream_chained_aggs",
        "q324_stream_dedup_within_watermark",
        "q339_stream_sprt_sequential",
    ],
)
def test_memory_sink_builders_leave_no_scratch(spark, sf_dir, tmp_path, monkeypatch, name):
    """Builders whose rows come back from the memory sink delete their
    replay source directories once the stream has run."""
    from kinesis_customer_sample_spark.registry import load_registry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert load_registry()[name].fn(spark, sf_dir).count() > 0
    assert list(tmp_path.iterdir()) == []


def test_stateful_publish_exact_equals_batch(spark):
    """Streaming exact publish detection (R11) == batch lag derivation.
    In-order delivery per key (the guide:13 per-shard contract) — publish
    detection is a state machine over the op sequence, so unlike latest-state
    it is not robust to arbitrary reordering."""
    with tempfile.TemporaryDirectory() as td:
        stream = _ops_stream(spark, td, split="ordered")
        out = run_to_completion(publish_events_stream(stream), output_mode="append")
        got = {(r.organization_id, r.id, r.branch, r.event_us, r.kind) for r in out.collect()}
    batch = contentops_publish_exact(spark, "")
    want = {
        (
            r.organization_id,
            r.id,
            r.branch,
            int(r.event_time.timestamp() * 1_000_000),
            r.kind,
        )
        for r in batch.collect()
    }
    assert got == want
    # exact-vs-proxy difference: the op4 delete->op5 republish chain emits
    # publish/unpublish/publish for story-1/published
    story1 = sorted(k[3:] for k in got if k[1] == "story-1" and k[2] == "default")
    assert [k[1] for k in story1] == ["publish", "unpublish", "publish"]


@pytest.mark.parametrize("mode", ["complete", "append"])
def test_run_to_completion_deletes_its_checkpoint(spark, sf_dir, mode):
    """run_to_completion deletes its checkpoint directory once the query
    has ended: after a complete run (the rows come from the memory sink)
    and when the query fails (an aggregate without a watermark cannot run
    in append mode)."""
    name = f"ckpt_probe_{uuid.uuid4().hex[:8]}"
    agg = events_stream(spark, sf_dir).groupBy("event_type").count()
    if mode == "complete":
        out = run_to_completion(agg, output_mode=mode, name=name)
        assert out.count() > 0
    else:
        with pytest.raises(Exception):
            run_to_completion(agg, output_mode=mode, name=name)
    assert glob.glob(os.path.join(tempfile.gettempdir(), f"ckpt_{name}_*")) == []


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicates on a stream (R10): injected duplicate event_ids
    collapse to the batch-distinct count."""
    ev = events_stream(spark, sf_dir)
    duped = ev.unionByName(ev)  # every record twice
    dd = duped.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = dd.groupBy().agg(F.count(F.lit(1)).alias("n"))
    out = run_to_completion(agg, output_mode="complete")
    from kinesis_customer_sample_spark.catalog import table

    assert out.collect()[0].n == table(spark, sf_dir, "events").count()


def test_watermark_drops_late_data(spark, tmp_path):
    """A record older than (max seen ts - watermark) arriving in a later
    micro-batch is dropped from append-mode windowed aggregation
    (guide:104-106 ingestion lag → late-data policy)."""
    with tempfile.TemporaryDirectory() as td:
        on_time = pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts": pd.to_datetime(
                    ["2024-01-01 10:00:00", "2024-01-01 20:00:00"]
                ).astype("datetime64[us]"),
                "value": [1.0, 1.0],
            }
        )
        late = pd.DataFrame(
            {
                "event_id": [3],
                "ts": pd.to_datetime(["2024-01-01 10:30:00"]).astype(
                    "datetime64[us]"
                ),  # 9.5h late < wm
                "value": [100.0],
            }
        )
        on_time.to_parquet(os.path.join(td, "a-first.parquet"), index=False)

        schema = "event_id long, ts timestamp, value double"
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(td)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.sum("value").alias("total"))
        )
        import uuid

        name = f"late_{uuid.uuid4().hex[:8]}"
        ckpt = str(tmp_path / "ckpt")
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        q.processAllAvailable()  # batch 1: watermark -> 19:00
        late.to_parquet(os.path.join(td, "b-late.parquet"), index=False)
        q.processAllAvailable()  # batch 2: late row dropped
        # one more empty-ish cycle to let the 10:00 window finalize
        q.processAllAvailable()
        q.stop()
        rows = {r["window"].start.isoformat(): r.total for r in spark.table(name).collect()}
        # the 10:00 window closed with ONLY the on-time value; late 100.0 dropped
        assert rows.get("2024-01-01T10:00:00") == 1.0


def test_foreach_batch_upsert_sink(spark):
    """R15 CMS-sync sink: per-batch newest-wins merge into a parquet table
    converges to the batch latest-state (guide:3)."""
    ops = _ops_with_us(spark).withColumn(
        "last_us", F.unix_micros(F.col("event_time").cast("timestamp"))
    )
    half1 = ops.filter(F.col("op_id") <= 8).select(
        "organization_id", "id", "branch", "published",
        F.col("operation").alias("last_operation"), "last_us", "body",
    )
    half2 = ops.filter(F.col("op_id") > 8).select(
        "organization_id", "id", "branch", "published",
        F.col("operation").alias("last_operation"), "last_us", "body",
    )
    with tempfile.TemporaryDirectory() as td:
        target = os.path.join(td, "cms_table")
        upsert = foreach_batch_upsert(target)
        upsert(half1, 0)
        upsert(half2, 1)
        got = {
            (r.organization_id, r.id, r.branch, r.published): r.body
            for r in spark.read.parquet(target).collect()
        }
    want = {
        (r.organization_id, r.id, r.branch, r.published): r.body
        for r in contentops_latest_state(spark, "").collect()
    }
    assert got == want


def test_merge_latest_delete_wins_then_reinsert(spark):
    """Unit: merge_latest removes deleted keys and revives reinserted ones."""
    a = spark.createDataFrame(
        [("w", "d1", "default", True, "insert-story", 100, "{}")],
        "organization_id string, id string, branch string, published boolean,"
        " last_operation string, last_us long, body string",
    )
    b = spark.createDataFrame(
        [("w", "d1", "default", True, "delete-story", 200, None)],
        a.schema,
    )
    assert merge_latest(a, b).count() == 0
    c = spark.createDataFrame(
        [("w", "d1", "default", True, "insert-story", 300, "{}")], a.schema
    )
    merged = merge_latest(merge_latest(a, b), c)
    assert merged.count() == 1 and merged.collect()[0].last_us == 300


_DOC_SCHEMA = (
    "organization_id string, id string, branch string, published boolean,"
    " last_operation string, last_us long, body string"
)


def _doc(doc_id, op, last_us, body):
    return ("w", doc_id, "default", True, op, last_us, body)


def _table(spark, target):
    return {r.id: (r.last_us, r.body) for r in spark.read.parquet(target).collect()}


def test_upsert_event_time_tie_goes_to_later_epoch(spark, tmp_path):
    """A key whose two updates share an event time but land in different
    epochs ends with the later epoch's row: the state emitted it as the
    tie's winner (larger arrival sequence), so the sink must not keep the
    table's row. Same for a delete that ties with the stored insert."""
    target = str(tmp_path / "cms_table")
    upsert = foreach_batch_upsert(target)
    first = [_doc(f"d{i}", "insert-story", 100, f"old{i}") for i in range(8)]
    upsert(spark.createDataFrame(first, _DOC_SCHEMA), 0)
    later = [_doc(f"d{i}", "insert-story", 100, f"new{i}") for i in range(7)]
    later.append(_doc("d7", "delete-story", 100, None))
    upsert(spark.createDataFrame(later, _DOC_SCHEMA), 1)
    assert _table(spark, target) == {f"d{i}": (100, f"new{i}") for i in range(7)}


def test_upsert_recovers_from_crash_mid_swap(spark, tmp_path):
    """A crash between renaming the table aside and renaming the new
    version in leaves only `<table>.old` (plus the epoch's tmp output). The
    replayed epoch must put the old table back and merge into it, not
    rebuild the table from its own rows alone."""
    target = str(tmp_path / "cms_table")
    upsert = foreach_batch_upsert(target)
    base = [_doc("a", "insert-story", 100, "a"), _doc("b", "insert-story", 100, "b")]
    upsert(spark.createDataFrame(base, _DOC_SCHEMA), 0)
    batch = spark.createDataFrame([_doc("c", "insert-story", 200, "c")], _DOC_SCHEMA)

    os.rename(target, target + ".old")  # the crash state
    os.makedirs(target + ".tmp-1")
    upsert(batch, 1)  # replay
    want = {"a": (100, "a"), "b": (100, "b"), "c": (200, "c")}
    assert _table(spark, target) == want
    assert not os.path.exists(target + ".old")

    # crashed after the swap, before deleting the aside copy: the table is
    # already current and the stale copy is dropped
    shutil.copytree(target, target + ".old")
    upsert(batch, 1)
    assert _table(spark, target) == want
    assert not os.path.exists(target + ".old")


def test_session_window_stream_equals_batch(spark, sf_dir):
    """Streaming session windows (30-min gap, watermarked) == the batch
    session_window derivation used by q53 — the sessionization operator is
    trigger-invariant."""
    from kinesis_customer_sample_spark.catalog import table

    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, output_mode="complete")
    got = {
        (r.user_id, r["session_window"].start, r["session_window"].end): r.n_events
        for r in out.collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (r.user_id, r["session_window"].start, r["session_window"].end): r.n_events
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stateful_latest_state_on_rocksdb_provider(spark):
    """The stateful operators run unchanged on the RocksDB state store —
    the provider production uses at 100 TB key cardinality (SURVEY.md §4.2;
    keyed state no longer bounded by executor heap)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        with tempfile.TemporaryDirectory() as td:
            stream = _ops_stream(spark, td)
            out = run_to_completion(latest_state_stream(stream), output_mode="update")
            final = (
                out.withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy(
                            "organization_id", "id", "branch", "published"
                        ).orderBy(F.col("last_us").desc())
                    ),
                )
                .filter("rn = 1")
                .filter(F.col("last_operation").startswith("insert-"))
            )
            got = {
                (r.organization_id, r.id, r.branch, r.published): r.body
                for r in final.collect()
            }
        want = {
            (r.organization_id, r.id, r.branch, r.published): r.body
            for r in contentops_latest_state(spark, "").collect()
        }
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_dynamic_gap_session_stream_equals_batch(spark, sf_dir):
    """Streaming dynamic-gap session windows (q170's per-event-type gap
    expression, watermarked) == the same derivation in batch — the
    variable-timeout sessionizer is trigger-invariant too."""
    from kinesis_customer_sample_spark.catalog import table

    gap = F.when(
        F.col("event_type") == "error", F.expr("make_interval(0, 0, 0, 0, 0, 5, 0)")
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, output_mode="complete")
    got = {
        (r.user_id, r["session_window"].start, r["session_window"].end): r.n_events
        for r in out.collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (r.user_id, r["session_window"].start, r["session_window"].end): r.n_events
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_restarts_from_checkpoint_without_reprocessing(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: a windowless running aggregate is
    driven to completion on half the source files, the query STOPS, more
    files arrive, and a NEW query object resumes from the same checkpoint.
    The final result must equal the batch aggregate over everything, AND
    the restarted run's input-row metrics must show only the NEW files
    were read — state came from the checkpoint, not reprocessing."""
    import uuid

    from kinesis_customer_sample_spark.catalog import table

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    name = f"restart_{uuid.uuid4().hex[:8]}"
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "event_type", "value")
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    half_a.coalesce(2).write.mode("append").parquet(src)
    n_b = half_b.count()

    def run_once():
        sdf = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents"),
            )
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    run_once()  # phase 1: files for half A, checkpoint written
    half_b.coalesce(2).write.mode("append").parquet(src)  # new files arrive
    q2 = run_once()  # phase 2: NEW query object, same checkpoint

    got = {
        r["event_type"]: (r["n"], r["cents"]) for r in spark.table(name).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["cents"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)")).alias("cents"),
        )
        .collect()
    }
    assert got == want
    # the restarted run read ONLY the new files (checkpointed offsets held)
    reprocessed = sum(p["numInputRows"] for p in q2.recentProgress)
    assert reprocessed == n_b, (reprocessed, n_b)


def test_session_timeout_stream_equals_batch(spark, sf_dir):
    """EventTimeTimeout sessionization: replay events as two time-ordered
    micro-batches plus a far-future sentinel batch (which pushes the
    watermark so every open session times out), and compare the emitted
    sessions to q53's batch session_window derivation — same 30-min gap,
    same (start, end, count) per session. Sessions close ONLY via state
    timeout, so this proves the timeout path, not just the inline path."""
    import os
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from kinesis_customer_sample_spark.catalog import table
    from kinesis_customer_sample_spark.streaming.replay import run_to_completion
    from kinesis_customer_sample_spark.streaming.stateful import session_timeout_stream

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    with tempfile.TemporaryDirectory() as td:
        half = (len(pdf) + 1) // 2
        pdf.iloc[:half].to_parquet(os.path.join(td, "part-0.parquet"), index=False)
        pdf.iloc[half:].to_parquet(os.path.join(td, "part-1.parquet"), index=False)
        sentinel = pd.DataFrame(
            {
                "user_id": pdf["user_id"].unique(),
                "ts": pd.Timestamp(pdf["ts"].max()) + pd.Timedelta(days=365),
                "event_id": -1,
            }
        )
        sentinel["ts"] = sentinel["ts"].astype("datetime64[us]")
        sentinel.to_parquet(os.path.join(td, "part-2.parquet"), index=False)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(td)
        )
        got = (
            run_to_completion(session_timeout_stream(stream), output_mode="append")
            .filter(F.col("n_events") > 0)
            .toPandas()
        )
    # batch truth: q53's session_window over the same events, minus the
    # sentinel sessions (they contain only the sentinel row, n_events == 1
    # at ts+365d — excluded by dropping sessions starting after max ts)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
    )
    key = ["user_id", "session_start"]
    got_s = (
        got[got["session_start"] <= batch["session_start"].max()]
        .sort_values(key)
        .reset_index(drop=True)
    )
    batch_s = batch.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(batch_s)
    assert (got_s["session_end"].values == batch_s["session_end"].values).all()
    assert (got_s["n_events"].values == batch_s["n_events"].values).all()


def test_python_stream_sink_exactly_once(spark, tmp_path):
    """End-to-end connector pair: the custom Python streaming SOURCE
    (q248's offset-managed wire replay) feeds decode, and the custom
    Python streaming SINK persists the decoded operations through the
    two-phase manifest protocol. Restarting the query from the same
    checkpoint must not duplicate rows (manifests make replayed batches
    idempotent), and the committed rows equal the batch decode of the
    same fixture exactly."""
    from kinesis_customer_sample_spark.fixtures import encode_records, kinesis_records_df
    from kinesis_customer_sample_spark.sources.decode import decode_records
    from kinesis_customer_sample_spark.sources.python_stream import (
        ManifestJsonlSink,
        WireReplayDataSource,
        read_committed,
    )

    for src in (WireReplayDataSource, ManifestJsonlSink):
        try:
            spark.dataSource.register(src)
        except Exception:
            pass
    _, store = encode_records()
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "sink_ckpt")

    def run_once():
        stream = spark.readStream.format("kcss_wire_replay").load()
        decoded = decode_records(stream, fetch=store.__getitem__).select(
            "organization_id", "operation", "id", "branch", "published", "sequence_number"
        )
        q = (
            decoded.writeStream.format("kcss_manifest_jsonl")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run_once()
    n_first = len(read_committed(out_dir))
    run_once()  # restart from the same checkpoint: nothing new to process
    rows = read_committed(out_dir)
    assert len(rows) == n_first  # no duplicates across restart

    batch_records, batch_store = kinesis_records_df(spark)
    expected = (
        decode_records(batch_records, fetch=batch_store.__getitem__)
        .select("sequence_number")
        .toPandas()["sequence_number"]
        .sort_values()
        .tolist()
    )
    got = sorted(r["sequence_number"] for r in rows)
    assert got == expected


def test_partitioned_stream_source_equals_simple(spark):
    """The partitioned (executor-read, shard-per-partition) stream reader
    must deliver exactly the record set the simple driver-side reader
    does — same decode output, proving the scale-path connector shape
    (per-shard InputPartitions, offset ranges) loses and duplicates
    nothing."""
    from kinesis_customer_sample_spark.fixtures import encode_records
    from kinesis_customer_sample_spark.sources.decode import decode_records
    from kinesis_customer_sample_spark.sources.python_stream import (
        WireReplayDataSource,
        WireReplayPartitionedSource,
    )
    from kinesis_customer_sample_spark.streaming.replay import run_until_caught_up

    for src in (WireReplayDataSource, WireReplayPartitionedSource):
        try:
            spark.dataSource.register(src)
        except Exception:
            pass
    _, store = encode_records()

    def decoded_seqs(fmt: str) -> list[str]:
        stream = spark.readStream.format(fmt).load()
        out = run_until_caught_up(
            decode_records(stream, fetch=store.__getitem__).select("sequence_number"),
            output_mode="append",
        )
        return sorted(r["sequence_number"] for r in out.collect())

    assert decoded_seqs("kcss_wire_replay_sharded") == decoded_seqs("kcss_wire_replay")


class _FakeState:
    """Minimal GroupState stand-in for unit-testing stateful fold fns."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_space_saving_eviction_bounds_error():
    """Drive the space-saving fold past capacity: the summary never exceeds
    `capacity` counters, every count obeys true ≤ cnt ≤ true + err, and a
    heavy item's count stays exact (err 0) because it is never evicted."""
    from kinesis_customer_sample_spark.streaming.stateful import _heavy_hitters_fn_cap

    fn = _heavy_hitters_fn_cap(4)
    # item 1 is heavy (10 arrivals); items 2..7 are singletons that force
    # eviction churn once the 4-slot summary fills
    arrivals = [1] * 10 + [2, 3, 4, 5, 6, 7]
    true = {u: arrivals.count(u) for u in set(arrivals)}
    state = _FakeState()
    pdf = pd.DataFrame({"user_id": arrivals})
    (out,) = list(fn((0,), iter([pdf]), state))
    assert len(out) <= 4
    got = {int(r.user_id): (int(r.cnt), int(r.err)) for r in out.itertuples()}
    # heavy item exact
    assert got[1] == (10, 0)
    for u, (cnt, err) in got.items():
        assert true[u] <= cnt <= true[u] + err + true[u]  # cnt ≤ true + err
        assert cnt - err <= true[u]
    # second batch: state round-trips through arrays and keeps accumulating
    (out2,) = list(fn((0,), iter([pd.DataFrame({"user_id": [1, 1]})]), state))
    got2 = {int(r.user_id): int(r.cnt) for r in out2.itertuples()}
    assert got2[1] == 12


def test_split_router_retry_is_idempotent(spark, tmp_path):
    """Replaying an epoch through the split router (Structured Streaming's
    at-least-once foreachBatch contract) must not duplicate records in
    either sink: the manifest is the commit point for BOTH outputs."""
    from kinesis_customer_sample_spark.streaming.sinks import (
        foreach_batch_split_router,
        read_routed,
    )

    base = str(tmp_path / "router")
    # empty-but-valid state: reader must return an empty frame, not raise
    assert read_routed(spark, base).count() == 0
    # row 10 has value=NULL: the predicate evaluates to NULL, which must land
    # in quarantine (complement routing), never vanish from both sinks
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)] + [(10, None)],
        "event_id long, value double",
    )
    apply = foreach_batch_split_router(base, "value >= 5.0")
    apply(df, 0)
    apply(df, 0)  # retry of a committed epoch: must no-op
    apply(df, 1)  # a later epoch with the same rows: separate commit
    out = read_routed(spark, base)
    assert out.count() == 22  # 11 per committed epoch (incl. NULL), never 33
    per_route = {r.route: r.n for r in out.groupBy("route").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per_route == {"valid": 10, "quarantine": 12}
    null_routes = [r.route for r in out.filter("value IS NULL").collect()]
    assert null_routes == ["quarantine", "quarantine"]


def test_split_router_rejects_route_column(spark, tmp_path):
    """A batch that already carries `route` is refused with ValueError (a
    check that `python -O` keeps), before anything is written."""
    from kinesis_customer_sample_spark.streaming.sinks import foreach_batch_split_router

    apply = foreach_batch_split_router(str(tmp_path), "value >= 5.0")
    df = spark.createDataFrame([(1, 6.0, "x")], "event_id long, value double, route string")
    with pytest.raises(ValueError, match="'route' column"):
        apply(df, 0)
    assert not os.path.exists(os.path.join(tmp_path, "epoch=0"))


def test_transform_with_state_v2_availability_probe():
    """Standing probe for the arbitrary-state-v2 environment block
    (SURVEY.md: `transformWithStateInPandas`'s Python worker imports
    `google.protobuf`, absent in this no-pip image). The claim must stay
    evidence-backed each round: if protobuf ever appears in the image,
    this test FAILS loudly as the signal to port one of q245/q339 to the
    v2 API as its certification query (round-5 verdict item 5)."""
    try:
        import google.protobuf  # noqa: F401

        available = True
    except ImportError:
        available = False
    assert not available, (
        "google.protobuf is now importable — transformWithStateInPandas is "
        "likely unblocked; port q245 or q339 to the v2 API and update "
        "SURVEY.md's environment-blocked row"
    )


# ---- micro-batch-boundary invariance (streaming analog of the partition-
# invariance gate) --------------------------------------------------------

_MB_INVARIANT_QUERIES = (
    # stream-stream joins: watermark advancement between batches evicts
    # join state; a too-tight retention bound or mis-gated outer emission
    # only misbehaves under incremental arrival (q364's '67 rows short'
    # bug class)
    "q348_stream_stream_semi_join",
    "q364_stream_full_outer_join",
    "q374_stream_anti_join",
    "q111_stream_stream_join",
    "q183_stream_outer_join",
    # watermarked dedup + window aggs: state expiry mid-replay
    "q117_stream_dedup_watermark",
    "q52_stream_sliding_window",
    # applyInPandasWithState carriers: per-key state must fold across
    # batch boundaries (commutative/associative state discipline)
    "q213_stream_ewma_stateful",
    "q222_stream_ohlc",
    "q267_stream_heavy_hitters",
    "q408_stream_twap_stateful",
    # r10 pre-pin extension: the two sketch-state carriers (20-bin
    # histogram / ref+cur histogram pair) — vector addition must fold
    # identically across batch boundaries before their hashes pin
    "q439_stream_histogram_quantiles",
    "q457_stream_psi_drift",
    # r10 extension: the remaining events_stream readers — watermarked
    # tumbling window (state expiry mid-replay) and the split router
    # (per-branch watermark aggs must agree under incremental arrival)
    "q51_stream_tumbling_window",
    "q285_stream_split_router",
)


@pytest.fixture(scope="module")
def sliced_events_source(spark, sf_dir, tmp_path_factory):
    """The events table materialized as THREE strictly time-ordered
    arrival shards (mtime-ordered single files), so a file stream with
    maxFilesPerTrigger=1 replays them as three ordered micro-batches."""
    from pyspark.sql import functions as F

    from kinesis_customer_sample_spark.catalog import table as cat_table
    from kinesis_customer_sample_spark.streaming import replay

    ev = cat_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    lo, hi = ev.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).first()
    third = (hi - lo) // 3 + 1
    sliced = ev.withColumn(
        "batch_id", ((F.unix_micros("ts") - F.lit(lo)) / F.lit(third)).cast("long")
    )
    src = str(tmp_path_factory.mktemp("mb_invar") / "events_sliced")
    replay.write_ordered_shards(sliced, src, 3, "batch_id")
    return src, spark.read.parquet(src).schema  # metadata-only schema read


@pytest.mark.parametrize("name", _MB_INVARIANT_QUERIES)
def test_streaming_microbatch_invariance(spark, sf_dir, monkeypatch, sliced_events_source, name):
    """The query's final output must be IDENTICAL whether the replay
    arrives as one availableNow batch (the default single-file source)
    or as three strictly time-ordered micro-batches — the one axis the
    batch oracle cannot observe."""
    import kinesis_customer_sample_spark.queries.streaming_queries as sq
    from kinesis_customer_sample_spark.compare import _arrow_rows
    from kinesis_customer_sample_spark.registry import load_registry
    from kinesis_customer_sample_spark.streaming import replay

    src, schema = sliced_events_source
    real = replay.events_stream

    def sliced_events_stream(sp, sfd, max_files_per_trigger=None):
        return (
            sp.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    reg = load_registry()
    monkeypatch.setattr(replay, "events_stream", real)
    monkeypatch.setattr(sq, "events_stream", real)
    base_cols, base_rows = _arrow_rows(reg[name].fn(spark, sf_dir).toArrow())
    monkeypatch.setattr(replay, "events_stream", sliced_events_stream)
    monkeypatch.setattr(sq, "events_stream", sliced_events_stream)
    got_cols, got_rows = _arrow_rows(reg[name].fn(spark, sf_dir).toArrow())
    assert got_cols == base_cols, name
    assert got_rows == base_rows, (
        f"{name}: output depends on micro-batch slicing "
        f"({len(got_rows)} vs {len(base_rows)} rows)"
    )


def test_corpus_ingest_microbatch_invariance(spark, sf_dir, monkeypatch, tmp_path):
    """q150's exactly-once restoration (dropDuplicates over an
    at-least-once doubled replay) must hold when the duplicates arrive
    in DIFFERENT micro-batches: slice documents into three arrival
    shards so the second delivery of a doc_id can land batches after
    the first — the dedup state has to persist across batch boundaries,
    not just within one availableNow batch."""
    from pyspark.sql import functions as F

    from kinesis_customer_sample_spark.catalog import table as cat_table
    from kinesis_customer_sample_spark.compare import _arrow_rows
    from kinesis_customer_sample_spark.registry import load_registry
    from kinesis_customer_sample_spark.streaming import replay

    docs = cat_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    sliced = docs.withColumn("batch_id", F.col("doc_id") % 3)
    src = str(tmp_path / "documents_sliced")
    replay.write_ordered_shards(sliced, src, 3, "batch_id")
    schema = spark.read.parquet(src).schema

    def sliced_documents_stream(sp, sfd, max_files_per_trigger=None):
        return (
            sp.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    reg = load_registry()
    base_cols, base_rows = _arrow_rows(
        reg["q150_stream_corpus_ingest"].fn(spark, sf_dir).toArrow()
    )
    monkeypatch.setattr(replay, "documents_stream", sliced_documents_stream)
    got_cols, got_rows = _arrow_rows(
        reg["q150_stream_corpus_ingest"].fn(spark, sf_dir).toArrow()
    )
    assert got_cols == base_cols
    assert got_rows == base_rows, (
        f"dedup state lost across micro-batches "
        f"({len(got_rows)} vs {len(base_rows)} rows)"
    )
