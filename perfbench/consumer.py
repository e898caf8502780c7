"""The two consumer workloads: the paper's Kinesis content-feed consumer
driven through the package's public functions.

- consumer_catchup (closed loop): the whole backlog is in the source
  directory at start, as after a restart from TRIM_HORIZON; each trigger
  takes one file of `cap` records. decode_records → latest_state_stream →
  foreach_batch_upsert.
- consumer_live (open loop): a feeder thread writes one small file per tick
  on a fixed wall-clock schedule at a constant record rate; default trigger.
  decode_records → publish_events_stream → parquet append sink.

The first micro-batch of each query (Python worker spin-up, state store
creation) is warm-up and billed to set-up. Micro-batch timings come from
the query's own StreamingQueryProgress; which file went into which batch
comes from the file source's log in the checkpoint.
"""

from __future__ import annotations

import json
import math
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.fixtures import RECORD_SCHEMA
from kinesis_customer_sample_spark.sources.decode import decode_records
from kinesis_customer_sample_spark.streaming.sinks import foreach_batch_upsert
from kinesis_customer_sample_spark.streaming.stateful import (
    latest_state_stream,
    publish_events_stream,
)
from perfbench import gen, reference
from perfbench.common import Ctx, Result, percentile, timed_median
from perfbench.trace import (
    ProgressListener,
    executor_layers,
    flush_listener_bus,
    jobs_between,
    read_event_log,
)

CATCHUP_SPEC = gen.ConsumerSpec(
    n_keys=20_000,
    zipf_s=0.9,
    body_words=(10, 100),
    published_frac=0.7,
    delete_frac=0.10,
    late_frac=0.05,
)
LIVE_SPEC = gen.ConsumerSpec(
    n_keys=300,
    zipf_s=0.0,
    body_words=(0, 0),
    published_frac=0.9,
    delete_frac=0.35,
    late_frac=0.0,
)


@dataclass(frozen=True)
class Sizes:
    cap: int  # catchup: records per trigger (one file)
    backlog_files: int  # catchup: fewest files after the warm-up files
    rate: float  # live: records per second
    warm_records: int  # live: records in each warm-up file
    replay_files: int  # traced prefix replays: timed files per prefix
    replay_batch: int  # live prefix replays: records per file


FULL = Sizes(cap=1000, backlog_files=7, rate=50.0, warm_records=100,
             replay_files=1, replay_batch=150)
TINY = Sizes(cap=40, backlog_files=3, rate=40.0, warm_records=20,
             replay_files=1, replay_batch=20)
TICK_S = 0.1  # live: the feeder writes one file per tick
# Untimed micro-batches at the start of each timed query, billed to set-up:
# the first spins up the Python workers and the state store; the next ones
# still run 10-30 % slower while the JVM compiles the plan's hot paths, the
# more so on a loaded machine.
WARM_BATCHES = 4
POLL_S = 0.05
BATCH_TIMEOUT_S = 120.0
# catchup: one backlog file per this many timed seconds, so that the backlog
# outlasts the window on a fast machine (a 1000-record trigger takes 1.5-3.5 s
# on 4 cores)
FASTEST_BATCH_S = 1.0


# ---------------------------------------------------------------- helpers


def _sizes(ctx: Ctx) -> Sizes:
    return TINY if ctx.tiny else FULL


def _backlog_files(ctx: Ctx, seconds: float) -> int:
    return max(_sizes(ctx).backlog_files, math.ceil(seconds / FASTEST_BATCH_S))


def _configure(ctx: Ctx) -> None:
    """Let the replay source split its small files by bytes, into about one
    partition per core, as the Kinesis source reads one partition per
    shard. Spark's default charges 4 MB per file opened, which turns every
    small file into a partition of its own (or a whole file into one)."""
    ctx.spark.conf.set("spark.sql.files.openCostInBytes", "4096")


def _progress(query) -> list[dict]:
    """Executed micro-batches (idle progress events carry no addBatch)."""
    out = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in out if "addBatch" in p["durationMs"]]


def _end_s(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + trigger duration."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _await_batch(query, batch_id: int, timeout: float = BATCH_TIMEOUT_S) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not query.isActive:
            raise RuntimeError(f"query stopped: {query.exception()}")
        p = query.lastProgress
        if p is not None and p["batchId"] >= batch_id and "addBatch" in p["durationMs"]:
            return
        time.sleep(POLL_S)
    raise TimeoutError(f"batch {batch_id} did not commit in {timeout:.0f} s")


def _source_batches(ckpt: Path) -> dict[str, int]:
    """File name → micro-batch id, from the file source's checkpoint log."""
    out: dict[str, int] = {}
    log_dir = ckpt / "sources" / "0"
    if not log_dir.is_dir():
        return out
    for f in log_dir.iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            e = json.loads(line)
            out[Path(urlparse(e["path"]).path).name] = e["batchId"]
    return out


class CountingStore(gen.LocalObjectStore):
    """The object store plus an accumulator of fetch calls (traced runs)."""

    def __init__(self, root: str, acc):
        super().__init__(root)
        self.acc = acc

    def __call__(self, url: str) -> bytes:
        self.acc.add(1)
        return super().__call__(url)


class EpochLog:
    """Wraps a foreachBatch callback: records completed epochs and, when
    traced, the callback's wall time and the table it leaves behind."""

    def __init__(self, fn, table_dir: Path | None = None, traced: bool = False):
        self.fn, self.table_dir, self.traced = fn, table_dir, traced
        self.done: list[int] = []
        self.spans: list[dict] = []

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.time()
        self.fn(batch_df, epoch_id)
        t1 = time.time()
        self.done.append(epoch_id)
        if self.traced:
            meta = _dir_stats(self.table_dir)
            self.spans.append({"name": "sink.epoch", "epoch": epoch_id, "start": t0,
                               "end": t1, **meta})


def _dir_stats(path: Path) -> dict:
    files = [f for f in path.iterdir() if f.name.endswith(".parquet")]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return {"rows": rows, "bytes": sum(f.stat().st_size for f in files)}


def _decoded_count(ctx: Ctx, files: list[Path], store: Path) -> int:
    if not files:
        return 0
    df = ctx.spark.read.schema(RECORD_SCHEMA).parquet(*map(str, files))
    return decode_records(df, fetch=gen.LocalObjectStore(str(store))).count()


def _build(ctx: Ctx, kind: str, src: Path, store, upto: str, out: Path,
           ckpt: Path, max_files: int | None, observe: bool, epoch_log=None):
    """decode → state → sink, cut after `upto` (source|decode|state|sink)."""
    reader = ctx.spark.readStream.schema(RECORD_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    df = reader.parquet(str(src))
    mode = "append"
    if upto != "source":
        df = decode_records(df, fetch=store)
        if observe:
            df = df.observe("decode", F.count(F.lit(1)).alias("records_out"))
    if upto in ("state", "sink"):
        if kind == "catchup":
            df, mode = latest_state_stream(df), "update"
        else:
            df = publish_events_stream(df)
    w = df.writeStream.outputMode(mode).option("checkpointLocation", str(ckpt))
    if upto != "sink":
        return w.format("noop")
    if kind == "catchup":
        return w.foreachBatch(epoch_log)
    return w.format("parquet").option("path", str(out))


# ------------------------------------------------------------- catchup


def _catchup_inputs(ctx: Ctx, base: Path, n_files: int) -> tuple[gen.Records, str]:
    s = _sizes(ctx)
    recs = gen.consumer_records(ctx.seed, s.cap * n_files, CATCHUP_SPEC)
    src = base / "src"
    src.mkdir(parents=True, exist_ok=True)
    gen.write_objects(str(base / "objects"), recs.objects)
    for f in range(n_files):
        gen.write_record_file(str(src / f"b{f:05d}.parquet"),
                              recs.rows[f * s.cap:(f + 1) * s.cap], 1_700_000_000 + f,
                              row_groups=gen.SHARDS)
    return recs, recs.digest()


def _catchup_window(ctx: Ctx, base: Path, recs: gen.Records, seconds: float,
                    tag: str, listener: ProgressListener | None) -> dict:
    """One timed catch-up query on a fresh checkpoint and table. Returns its
    batches, set-up end and correctness accounting."""
    s = _sizes(ctx)
    ckpt, table = base / f"ckpt-{tag}", base / f"table-{tag}"
    store: object = gen.LocalObjectStore(str(base / "objects"))
    acc = None
    if listener is not None:
        acc = ctx.spark.sparkContext.accumulator(0)
        store = CountingStore(str(base / "objects"), acc)
    log = EpochLog(foreach_batch_upsert(str(table)), table, traced=listener is not None)
    query = _build(ctx, "catchup", base / "src", store, "sink", table, ckpt, 1,
                   observe=listener is not None, epoch_log=log).start()
    try:
        _await_batch(query, WARM_BATCHES - 1)
        t_ready = time.time()
        deadline = time.monotonic() + seconds
        final = len(recs.rows) // s.cap - 1
        while time.monotonic() < deadline:
            p = query.lastProgress
            if p is not None and p["batchId"] >= final:
                break  # backlog drained
            time.sleep(POLL_S)
        last = query.lastProgress["batchId"]
        if last < final:
            _await_batch(query, last + 1)  # let the batch in flight commit
        batches = _progress(query)
    finally:
        query.stop()
    t_end = time.time()
    timed = [p for p in batches if p["batchId"] >= WARM_BATCHES]
    end0 = _end_s(next(p for p in batches if p["batchId"] == WARM_BATCHES - 1))
    committed = sum(p["numInputRows"] for p in timed)
    span = _end_s(timed[-1]) - end0

    # correctness: the table left by the completed upserts equals the
    # reference fold of exactly the records those epochs consumed
    by_file = _source_batches(ckpt)
    done = set(log.done)
    files = sorted(base / "src" / name for name, b in by_file.items() if b in done)
    idx = [int(f.stem[1:]) for f in files]
    ops = [op for i in idx for op in recs.ops[i * s.cap:(i + 1) * s.cap]]
    expected = reference.document_table(ops)
    rows = pq.read_table(table).to_pylist() if table.exists() else []
    failed = reference.table_mismatches(expected, rows)
    decoded = _decoded_count(ctx, files, base / "objects")
    want_decoded = sum(op is not None for op in ops)
    failed += abs(decoded - want_decoded)
    if sorted(done) != list(range(len(done))):
        failed += 1
    return {
        "t_ready": t_ready,
        "t_end": t_end,
        "batches": batches,
        "timed": timed,
        "throughput": committed / span,
        "lat": [p["durationMs"]["triggerExecution"] / 1e3 for p in timed],
        "attempted": len(ops),
        "failed": failed,
        "decoded": decoded,
        "table_rows": len(rows),
        "pointer_fetches": acc.value if acc is not None else None,
        "epoch_log": log,
        "query_id": str(query.id),
    }


def run_catchup(ctx: Ctx, seconds: float, t_session: float) -> Result:
    base = ctx.run_dir / "catchup"
    _configure(ctx)
    n_files = WARM_BATCHES + _backlog_files(ctx, seconds)
    t_gen, made = timed_median(3, lambda: _catchup_inputs(ctx, base, n_files))
    recs, digests = made[-1][0], {d for _, d in made}
    t0 = time.time()
    first = w = _catchup_window(ctx, base, recs, seconds, "untraced", None)
    listener = None
    if ctx.traced:
        listener = ProgressListener()
        ctx.spark.streams.addListener(listener)
        w = _catchup_window(ctx, base, recs, seconds, "traced", listener)
    res = Result(attempted=first["attempted"], failed=first["failed"] + len(digests) - 1)
    res.detail.update(input_digest=sorted(digests), batches=len(first["timed"]),
                      committed=sum(p["numInputRows"] for p in first["timed"]),
                      batch_s=first["lat"])
    res.e2e = {
        "setup_s": t_session + t_gen + first["t_ready"] - t0,
        "throughput_rps": first["throughput"],
        "latency_p50_s": percentile(first["lat"], 50),
        "latency_p95_s": percentile(first["lat"], 95),
    }
    if ctx.traced:
        res.attempted += w["attempted"]
        res.failed += w["failed"]
        res.layers = _catchup_layers(ctx, base, recs, w, listener)
        res.layers.update(_executor(ctx, w))
        res.layers["trace.overhead_pct"] = 100 * (first["throughput"] / w["throughput"] - 1)
        res.detail["traced_throughput_rps"] = w["throughput"]
        res.detail["progress"] = listener.for_query(w["query_id"])
        res.spans.extend(w["epoch_log"].spans)
    return res


def _catchup_layers(ctx, base, recs, w, listener) -> dict:
    s = _sizes(ctx)
    timed = [p for p in listener.for_query(w["query_id"])
             if p["batchId"] >= WARM_BATCHES and "addBatch" in p["durationMs"]]
    layers = _decode_layers(timed, w["pointer_fetches"])
    layers.update(_state_layers(timed))
    # the whole backlog is due at start: what is left when each batch begins
    layers.update(_trigger_layers(timed, backlog=[
        len(recs.rows) - s.cap * p["batchId"] for p in timed]))
    spans = [s for s in w["epoch_log"].spans if s["epoch"] >= 1]
    written = sum(s["bytes"] for s in spans)
    updated = sum(p["stateOperators"][0]["numRowsUpdated"] for p in timed)
    layers.update({
        "sink.epochs": len(spans),
        "sink.table_rows": w["table_rows"],
        "sink.bytes_written": written,
        "sink.write_amp": sum(s["rows"] for s in spans) / max(updated, 1),
    })
    layers.update(_prefix_replay(ctx, "catchup", base, recs))
    return layers


# ---------------------------------------------------------------- live


def _live_inputs(ctx: Ctx, base: Path, seconds: float) -> tuple[gen.Records, str]:
    s = _sizes(ctx)
    n = WARM_BATCHES * s.warm_records + int(s.rate * seconds)
    recs = gen.consumer_records(ctx.seed, n, LIVE_SPEC)
    gen.write_objects(str(base / "objects"), recs.objects)
    return recs, recs.digest()


class Feeder(threading.Thread):
    """Writes records to the source directory on a fixed schedule: record j
    is due at t_start + j / rate and lands in the first file written at or
    after its due time (one file per tick)."""

    def __init__(self, rows, src: Path, rate: float, tick_s: float):
        super().__init__(daemon=True)
        self.rows, self.src, self.rate, self.tick_s = rows, src, rate, tick_s
        self.t_start = time.time() + 0.1
        self.files: list[tuple[str, int, int]] = []  # (name, first, end) record index
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def due(self, j: int) -> float:
        return self.t_start + j / self.rate

    def run(self) -> None:
        try:
            n, k, first = len(self.rows), 0, 0
            while first < n:
                k += 1
                t_due = self.t_start + k * self.tick_s
                time.sleep(max(0.0, t_due - time.time()))
                end = min(n, int((t_due - self.t_start) * self.rate) + 1)
                if end > first:
                    name = f"t{k:06d}.parquet"
                    gen.write_record_file(str(self.src / name), self.rows[first:end],
                                          time.time())
                    self.files.append((name, first, end))
                    first = end
                self.late_s.append(time.time() - t_due)
        except BaseException as ex:  # noqa: BLE001 — surfaced by the caller
            self.error = ex


def _live_window(ctx: Ctx, base: Path, recs: gen.Records, tag: str,
                 listener: ProgressListener | None) -> dict:
    s = _sizes(ctx)
    src, ckpt, out = base / f"src-{tag}", base / f"ckpt-{tag}", base / f"out-{tag}"
    src.mkdir(parents=True)

    store: object = gen.LocalObjectStore(str(base / "objects"))
    acc = None
    if listener is not None:
        acc = ctx.spark.sparkContext.accumulator(0)
        store = CountingStore(str(base / "objects"), acc)
    query = _build(ctx, "live", src, store, "sink", out, ckpt, None,
                   observe=listener is not None).start()
    n_warm = WARM_BATCHES * s.warm_records
    feeder = Feeder(recs.rows[n_warm:], src, s.rate, TICK_S)
    try:
        for b in range(WARM_BATCHES):
            gen.write_record_file(str(src / f"w{b}.parquet"),
                                  recs.rows[b * s.warm_records:(b + 1) * s.warm_records],
                                  time.time())
            _await_batch(query, b)
        t_ready = time.time()
        feeder.t_start = time.time() + 0.1
        feeder.start()
        feeder.join()
        if feeder.error is not None:
            raise feeder.error
        # drain: every fed file is in a committed batch
        deadline = time.monotonic() + BATCH_TIMEOUT_S
        names = {f[0] for f in feeder.files}
        while time.monotonic() < deadline:
            by_file = _source_batches(ckpt)
            p = query.lastProgress
            if names <= by_file.keys() and p is not None and "addBatch" in p["durationMs"] \
                    and p["batchId"] >= max(by_file[n] for n in names):
                break
            time.sleep(POLL_S)
        batches = _progress(query)
    finally:
        query.stop()
    t_end = time.time()
    by_file = _source_batches(ckpt)
    end = {p["batchId"]: _end_s(p) for p in batches}
    lat, unaccounted = [], 0
    for name, first, last in feeder.files:
        b = by_file.get(name)
        if b is None or b not in end:
            unaccounted += last - first
            continue
        lat.extend(end[b] - feeder.due(j) for j in range(first, last))
    fed = len(recs.rows) - n_warm
    throughput = (fed - unaccounted) / (max(end.values()) - feeder.t_start)

    want = reference.publish_events(recs.ops)
    got_rows = ctx.spark.read.parquet(str(out)).collect() if out.exists() else []
    got = Counter(
        (r["organization_id"], r["id"], r["branch"], r["event_us"], r["kind"])
        for r in got_rows
    )
    files = [src / n for n in sorted(by_file)]
    decoded = _decoded_count(ctx, files, base / "objects")
    want_decoded = sum(op is not None for op in recs.ops)
    failed = unaccounted + sum(((want - got) + (got - want)).values())
    failed += abs(decoded - want_decoded)
    timed = [p for p in batches if p["batchId"] >= WARM_BATCHES]
    return {
        "t_ready": t_ready,
        "t_end": t_end,
        "timed": timed,
        "lat": lat,
        "throughput": throughput,
        "attempted": len(recs.rows),
        "failed": failed,
        "late_s": feeder.late_s,
        "events": len(got_rows),
        "out_bytes": sum(f.stat().st_size for f in out.glob("*.parquet")),
        "pointer_fetches": acc.value if acc is not None else None,
        "query_id": str(query.id),
        "feeder": feeder,
    }


def run_live(ctx: Ctx, seconds: float, t_session: float) -> Result:
    base = ctx.run_dir / "live"
    _configure(ctx)
    t_gen, made = timed_median(3, lambda: _live_inputs(ctx, base, seconds))
    recs, digests = made[-1][0], {d for _, d in made}
    t0 = time.time()
    first = w = _live_window(ctx, base, recs, "untraced", None)
    listener = None
    if ctx.traced:
        listener = ProgressListener()
        ctx.spark.streams.addListener(listener)
        w = _live_window(ctx, base, recs, "traced", listener)
    res = Result(attempted=first["attempted"], failed=first["failed"] + len(digests) - 1)
    res.detail.update(input_digest=sorted(digests), batches=len(first["timed"]),
                      feeder_late_max_s=max(first["late_s"], default=0.0),
                      latency_samples=len(first["lat"]))
    res.e2e = {
        "setup_s": t_session + t_gen + first["t_ready"] - t0,
        "throughput_rps": first["throughput"],
        "latency_p50_s": percentile(first["lat"], 50),
        "latency_p95_s": percentile(first["lat"], 95),
    }
    if ctx.traced:
        res.attempted += w["attempted"]
        res.failed += w["failed"]
        p50 = percentile(w["lat"], 50)
        res.layers = _live_layers(ctx, base, recs, w, listener)
        res.layers.update(_executor(ctx, w))
        res.layers["trace.overhead_pct"] = 100 * (p50 / res.e2e["latency_p50_s"] - 1)
        res.detail["traced_latency_p50_s"] = p50
        res.detail["progress"] = listener.for_query(w["query_id"])
    return res


def _live_layers(ctx, base, recs, w, listener) -> dict:
    timed = [p for p in listener.for_query(w["query_id"])
             if p["batchId"] >= WARM_BATCHES and "addBatch" in p["durationMs"]]
    feeder = w["feeder"]
    # records due but not yet committed, at each commit
    backlog = []
    committed = 0
    for p in timed:
        committed += p["numInputRows"]
        due = min(len(feeder.rows), int((_end_s(p) - feeder.t_start) * feeder.rate) + 1)
        backlog.append(max(0, due - committed))
    layers = _decode_layers(timed, w["pointer_fetches"])
    layers.update(_state_layers(timed))
    layers.update(_trigger_layers(timed, backlog))
    layers.update({
        "sink.epochs": len(timed),
        "sink.table_rows": w["events"],
        "sink.bytes_written": w["out_bytes"],
        "sink.write_amp": 1.0,  # append-only: every row is written once
    })
    layers.update(_prefix_replay(ctx, "live", base, recs))
    return layers


# ------------------------------------------------------------ layers


def _executor(ctx: Ctx, w: dict) -> dict:
    """Event-log roll-up of the jobs the traced window ran."""
    flush_listener_bus(ctx.spark)
    log = read_event_log(ctx.run_dir / "eventlog")
    jobs = jobs_between(log, w["t_ready"], w["t_end"])
    wall = sum(p["durationMs"]["triggerExecution"] for p in w["timed"]) / 1e3
    return {"execute.s": wall, "execute.jobs": len(jobs),
            **executor_layers(log, jobs, wall, ctx.slots)}


def _records_out(timed: list[dict]) -> int:
    """Rows leaving decode, from the `.observe()` on its output."""
    return sum(p.get("observedMetrics", {}).get("decode", {}).get("records_out", 0)
               for p in timed)


def _decode_layers(timed: list[dict], pointer_fetches) -> dict:
    rin = sum(p["numInputRows"] for p in timed)
    rout = _records_out(timed)
    return {
        "decode.records_in": rin,
        "decode.records_out": rout,
        "decode.pointer_fetches": pointer_fetches or 0,
        "decode.dropped": rin - rout,
        "decode.yield": rout / max(rin, 1),
    }


def _state_layers(timed: list[dict]) -> dict:
    ops = [p["stateOperators"][0] for p in timed if p["stateOperators"]]
    n = max(len(ops), 1)
    updated = sum(o["numRowsUpdated"] for o in ops)
    return {
        "state.update_ms": sum(o["allUpdatesTimeMs"] for o in ops) / n,
        "state.commit_ms": sum(o["commitTimeMs"] for o in ops) / n,
        "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
        "state.groups_per_batch": updated / n,
        "state.rows_per_group": _records_out(timed) / max(updated, 1),
        "state.memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
    }


def _trigger_layers(timed: list[dict], backlog: list[int]) -> dict:
    n = max(len(timed), 1)

    def mean(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in timed) / n

    return {
        "trigger.batches": len(timed),
        "trigger.records_per_batch": sum(p["numInputRows"] for p in timed) / n,
        "trigger.planning_ms": mean("queryPlanning"),
        "trigger.add_batch_ms": mean("addBatch"),
        "trigger.wal_commit_ms": mean("walCommit"),
        "trigger.commit_offsets_ms": mean("commitOffsets"),
        "trigger.fixed_ms": mean("triggerExecution") - mean("addBatch"),
        "trigger.backlog_max": max(backlog, default=0),
    }


def _prefix_replay(ctx: Ctx, kind: str, base: Path, recs: gen.Records) -> dict:
    """Replay the same files through growing pipeline prefixes (availableNow,
    one file per trigger); a layer's self time is the increase in timed
    trigger time over the previous prefix. The first batch of each prefix
    is warm-up and not timed."""
    s = _sizes(ctx)
    size = s.cap if kind == "catchup" else s.replay_batch
    src = base / "replay-src"
    shutil.rmtree(src, ignore_errors=True)
    src.mkdir()
    for f in range(1 + s.replay_files):
        gen.write_record_file(str(src / f"r{f:05d}.parquet"),
                              recs.rows[f * size:(f + 1) * size], 1_700_000_000 + f,
                              row_groups=gen.SHARDS)
    store = gen.LocalObjectStore(str(base / "objects"))
    totals, records = {}, 0
    for upto in ("source", "decode", "state", "sink"):
        out, ckpt = base / f"replay-out-{upto}", base / f"replay-ckpt-{upto}"
        log = EpochLog(foreach_batch_upsert(str(out))) if kind == "catchup" else None
        query = _build(ctx, kind, src, store, upto, out, ckpt, 1, observe=False,
                       epoch_log=log).trigger(availableNow=True).start()
        query.awaitTermination(BATCH_TIMEOUT_S)
        if query.isActive:
            query.stop()
            raise TimeoutError(f"prefix replay {upto} did not finish")
        timed = [p for p in _progress(query) if p["batchId"] >= 1]
        totals[upto] = sum(p["durationMs"]["triggerExecution"] for p in timed) / 1e3
        records = sum(p["numInputRows"] for p in timed)
    decode_s = totals["decode"] - totals["source"]
    return {
        "decode.self_s": decode_s,
        "decode.us_per_record": 1e6 * decode_s / max(records, 1),
        "state.self_s": totals["state"] - totals["decode"],
        "sink.self_s": totals["sink"] - totals["state"],
    }
