"""Stateful streaming operators: keyed latest-state (R9) and exact
publish-event detection (R11), per guide:143 "requires statefulness on the
application side".

Latest state is a built-in streaming aggregate: per key, the `max` of
`(event_us, arrival_seq, operation, body)`. `max` is associative, so the
result does not depend on how records fall into micro-batches, and a late
older record can never overwrite newer state (the guide:104-106
ingestion-lag case). The engine keeps the aggregate in its own state store
(RocksDB-backed in production) with no Python in the per-key loop.

The histogram sketches of q439 (`hist_quantile_stream`) and q457
(`psi_drift_stream`) are built-in streaming aggregates too: one
conditional count per bin, bin arrays and quantile floors projected after
the aggregate. These three are the native operators.

The other operators here use `applyInPandasWithState`, because their folds
depend on arrival order, micro-batch boundaries or a timeout. Publish detection is an
arrival-order state machine that emits events, not an aggregate; each
group's rows are sorted by `arrival_seq` before the fold.

Arrival ordering contract: both operators key arrival order on
`arrival_seq`, derived by `_with_arrival_seq` from whichever ordering
column the input carries — the wire `sequence_number` (decode_records
output; a ~56-digit decimal STRING, zero-padded so lexicographic order is
numeric order) or the fixture's `op_id`. Within one Kinesis partition key
all records land on one shard, so per-key sequence order IS arrival order
(guide:13) even across resharding.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# key: (organization_id, id, branch, published)
LATEST_OUT_SCHEMA = (
    "organization_id string, id string, branch string, published boolean, "
    "last_operation string, last_us long, body string"
)
PUBLISH_OUT_SCHEMA = (
    "organization_id string, id string, branch string, event_us long, kind string"
)

# wide enough for Kinesis's ~56-digit sequence numbers: zero-padding to a
# fixed width makes lexicographic order equal numeric order
_SEQ_PAD = 64


def publish_events_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """R11 exact: track liveness of the published copy; emit `publish` on a
    dead→live insert and `unpublish` on a live→dead delete (guide:141-145).
    Unlike the stateless proxy, a replace-insert (created=false) after a
    delete still counts as a publish, and double deletes emit nothing."""
    live, last_seq = state.get if state.exists else (False, "")
    org, doc_id, branch = key
    out: list[dict[str, Any]] = []
    # arrival (shard-sequence) order, guide:13 — NOT event time: a late
    # ingestion-priority record is still processed when it arrives
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        "arrival_seq", kind="mergesort"
    )
    for row in pdf.itertuples(index=False):
        last_seq = row.arrival_seq
        if row.operation.startswith("insert-") and not live:
            live = True
            out.append({"event_us": row.event_us, "kind": "publish"})
        elif row.operation.startswith("delete-") and live:
            live = False
            out.append({"event_us": row.event_us, "kind": "unpublish"})
    state.update((live, last_seq))
    yield pd.DataFrame(
        [
            {"organization_id": org, "id": doc_id, "branch": branch, **o}
            for o in out
        ],
        columns=["organization_id", "id", "branch", "event_us", "kind"],
    )


def _with_event_us(ops: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return ops.withColumn(
        "event_us", F.unix_micros(F.col("event_time").cast("timestamp"))
    )


def _with_arrival_seq(ops: DataFrame) -> DataFrame:
    """Derive the canonical arrival-order column from whatever the input
    carries: the wire `sequence_number` (decoded production stream) or the
    fixture `op_id`. Zero-padded so plain string sort is numeric sort."""
    from pyspark.sql import functions as F

    if "sequence_number" in ops.columns:
        src = F.col("sequence_number").cast("string")
    elif "op_id" in ops.columns:
        src = F.col("op_id").cast("string")
    else:
        raise ValueError(
            "stateful operators need an arrival-order column: "
            "sequence_number (wire) or op_id (fixture)"
        )
    return ops.withColumn("arrival_seq", F.lpad(src, _SEQ_PAD, "0"))


def latest_state_stream(ops: DataFrame) -> DataFrame:
    """Streaming keyed latest-state over decoded content operations, with
    `LATEST_OUT_SCHEMA` columns; run it in update output mode.

    Per key the record with the largest `(event_us, arrival_seq)` wins, the
    order the batch twin `contentops_latest_state` uses (`event_time desc,
    op_id desc`): newest event time, and on a tie the later arrival. A
    winning delete emits `body` NULL.

    State format: the state store holds the aggregate's buffer. A checkpoint
    written by the earlier `applyInPandasWithState` form of this operator
    cannot be resumed; start a fresh checkpoint and replay from TRIM_HORIZON,
    which the newest-wins upsert sink converges to the same table.
    """
    from pyspark.sql import functions as F

    op = F.col("operation")
    newest = F.max(
        F.struct(
            F.col("event_us").alias("last_us"),
            "arrival_seq",
            op.alias("last_operation"),
            F.when(op.startswith("insert-"), F.col("body")).alias("body"),
        )
    ).alias("newest")
    return (
        _with_arrival_seq(_with_event_us(ops))
        .groupBy("organization_id", "id", "branch", "published")
        .agg(newest)
        .select(
            "organization_id", "id", "branch", "published",
            "newest.last_operation", "newest.last_us", "newest.body",
        )
    )


def publish_events_stream(ops: DataFrame) -> DataFrame:
    """Streaming exact publish/unpublish detection over the published copies."""
    from pyspark.sql import functions as F

    return (
        _with_arrival_seq(_with_event_us(ops.filter(F.col("published"))))
        .groupBy("organization_id", "id", "branch")
        .applyInPandasWithState(
            publish_events_fn,
            outputStructType=PUBLISH_OUT_SCHEMA,
            stateStructType="live boolean, last_seq string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (q213): O(1) keyed state — the recurrence form of q206's
# batch fold. State = (ewma, n_obs, last_key); each micro-batch is sorted by
# (ts, event_id) before folding, so within-batch arrival disorder cannot
# change the result, and the sequential recurrence carries across batches.
# The fold performs the identical IEEE-754 sequence as the batch
# `aggregate()` and DuckDB's `list_reduce` (same order, same
# acc*0.9 + v*0.1 ops), so stream == batch == oracle bit-for-bit; rounding
# happens Spark-side AFTER the state function (Python's round() is
# banker's — never round in the worker).

EWMA_OUT_SCHEMA = "user_id long, n_obs long, ewma double"
EWMA_STATE_SCHEMA = "ewma double, n_obs long"
EWMA_ALPHA = 0.1


def ewma_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    ewma, n_obs = state.get if state.exists else (0.0, 0)
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    for v in pdf["value"]:
        ewma = ewma * (1.0 - EWMA_ALPHA) + float(v) * EWMA_ALPHA
        n_obs += 1
    state.update((ewma, n_obs))
    yield pd.DataFrame([{"user_id": key[0], "n_obs": n_obs, "ewma": ewma}])


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user EWMA over the event stream (update mode: each
    micro-batch emits the key's running smoothed value)."""
    return events.groupBy("user_id").applyInPandasWithState(
        ewma_fn,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Timeout-driven stateful sessionization: the EventTimeTimeout API surface.
# State per user = the open session (start_us, last_us, n_events); a session
# CLOSES and emits only via state timeout — the watermark passing
# last_us + gap — never inline, which is exactly how an unbounded stream
# must do it (an open session can always grow until the watermark proves it
# can't). Within-batch disorder is handled by sorting; cross-batch order is
# the watermark's job. The session definition (30-min gap) matches q108's
# batch gaps-and-islands, and the equivalence test replays multi-batch with
# a final watermark push so every session times out.

SESSION_OUT_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events long"
SESSION_STATE_SCHEMA = "start_us long, last_us long, n_events long"
SESSION_GAP_US = 30 * 60 * 1_000_000


def session_timeout_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    out: list[dict] = []
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        out.append(
            {
                "user_id": key[0],
                "session_start": pd.Timestamp(start_us, unit="us"),
                "session_end": pd.Timestamp(last_us + SESSION_GAP_US, unit="us"),
                "n_events": n,
            }
        )
        state.remove()
    else:
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        for ts in pdf["ts"]:
            us = int(pd.Timestamp(ts).value // 1000)
            if start_us is None:
                start_us, last_us, n = us, us, 1
            elif us - last_us > SESSION_GAP_US:
                out.append(
                    {
                        "user_id": key[0],
                        "session_start": pd.Timestamp(start_us, unit="us"),
                        "session_end": pd.Timestamp(last_us + SESSION_GAP_US, unit="us"),
                        "n_events": n,
                    }
                )
                start_us, last_us, n = us, us, 1
            else:
                last_us, n = us, n + 1
        state.update((start_us, last_us, n))
        # close via timeout when the watermark passes the gap
        state.setTimeoutTimestamp((last_us + SESSION_GAP_US) // 1000)
    yield pd.DataFrame(
        out, columns=["user_id", "session_start", "session_end", "n_events"]
    )


def session_timeout_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Sessionize a stream with EventTimeTimeout state closure."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            session_timeout_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Space-saving heavy hitters (Metwally et al., "Efficient Computation of
# Frequent and Top-k Elements in Data Streams"): per SHARD, a bounded
# summary of at most `capacity` (item, count, err) counters. An unseen item
# arriving at a full summary evicts the minimum counter and inherits its
# count as overestimation error — the classic O(capacity) stream sketch.
# While a shard's distinct-item count stays below capacity every err is 0
# and counts are EXACT (the regime the oracle checks); beyond it the
# guarantee degrades gracefully to count ≤ true + err. Determinism: items
# within a batch are folded in (count desc, item asc) group order and
# eviction always takes the (count, item)-minimum counter.

HH_OUT_SCHEMA = "shard long, user_id long, cnt long, err long"
HH_STATE_SCHEMA = (
    "users array<long>, counts array<long>, errs array<long>"
)
HH_CAPACITY = 1024  # per shard; exact while distinct-users/shard < this


def _heavy_hitters_fn_cap(capacity: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            users, counts, errs = state.get
            summary = {
                u: [c, e] for u, c, e in zip(list(users), list(counts), list(errs))
            }
        else:
            summary = {}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        batch = (
            pdf.groupby("user_id").size().reset_index(name="add")
            .sort_values(["add", "user_id"], ascending=[False, True])
        )
        for row in batch.itertuples(index=False):
            u, add = int(row.user_id), int(row.add)
            if u in summary:
                summary[u][0] += add
            elif len(summary) < capacity:
                summary[u] = [add, 0]
            else:  # evict the (count, item)-minimum counter
                ev = min(summary.items(), key=lambda kv: (kv[1][0], kv[0]))
                base = ev[1][0]
                del summary[ev[0]]
                summary[u] = [base + add, base]
        items = sorted(summary.items())
        state.update(
            (
                [u for u, _ in items],
                [ce[0] for _, ce in items],
                [ce[1] for _, ce in items],
            )
        )
        shard = int(key[0])
        yield pd.DataFrame(
            [
                {"shard": shard, "user_id": u, "cnt": ce[0], "err": ce[1]}
                for u, ce in items
            ]
        )

    return fn


def heavy_hitters_stream(events: DataFrame, capacity: int = HH_CAPACITY) -> DataFrame:
    """Sharded space-saving heavy-hitter summaries over the event stream.
    Input must carry a `shard` column (the partition key); each micro-batch
    re-emits the shard's full summary (update mode)."""
    return events.groupBy("shard").applyInPandasWithState(
        _heavy_hitters_fn_cap(capacity),
        outputStructType=HH_OUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming hysteresis alerting — the stateful twin of q262's declarative
# batch form. Here the state machine runs as the NATURAL sequential fold
# (walk the hourly rollup in time order, flip on crossings); the batch twin
# resolves the same semantics with one `last_value IGNORE NULLS` window.
# The oracle-checked equality of the two is the stream/batch-equivalence
# proof for alerting pipelines. State per key = the cumulative hour→
# (sum_cents, n) rollup plus a batch counter; each micro-batch merges its
# rows and re-emits the full recomputed timeline (late rows may flip any
# earlier hour's crossing, so recomputation from the rollup IS the correct
# semantics; the rollup, not the raw rows, is what the state carries).

ALERT_OUT_SCHEMA = (
    "event_type string, hour_epoch long, sum_cents long, n long, "
    "alert_on boolean, is_transition boolean, batch_no long"
)
ALERT_STATE_SCHEMA = (
    "hours array<long>, sums array<long>, ns array<long>, batch_no long"
)
ALERT_HI_CENTS = 5300
ALERT_LO_CENTS = 4800


def hysteresis_alert_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        hours, sums, ns, batch_no = state.get
        rollup = {h: [s, n] for h, s, n in zip(list(hours), list(sums), list(ns))}
    else:
        rollup, batch_no = {}, 0
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf):
        hrs = pdf["ts"].values.astype("datetime64[h]").astype("int64")
        cents = (pdf["value"].values * 100).round().astype("int64")
        agg = pd.DataFrame({"h": hrs, "c": cents}).groupby("h").agg(
            s=("c", "sum"), n=("c", "size")
        )
        for h, row in agg.iterrows():
            cur = rollup.setdefault(int(h), [0, 0])
            cur[0] += int(row.s)
            cur[1] += int(row.n)
    batch_no += 1
    items = sorted(rollup.items())
    state.update(
        (
            [h for h, _ in items],
            [sn[0] for _, sn in items],
            [sn[1] for _, sn in items],
            batch_no,
        )
    )
    out, alert, prev = [], False, False
    for h, (s, n) in items:
        if s > ALERT_HI_CENTS * n:
            alert = True
        elif s < ALERT_LO_CENTS * n:
            alert = False
        out.append(
            {
                "event_type": key[0],
                "hour_epoch": h,
                "sum_cents": s,
                "n": n,
                "alert_on": alert,
                "is_transition": alert != prev,
                "batch_no": batch_no,
            }
        )
        prev = alert
    yield pd.DataFrame(out)


def hysteresis_alert_stream(events: DataFrame) -> DataFrame:
    """Streaming hysteresis alert timelines per event_type (update mode:
    each micro-batch re-emits the key's full recomputed timeline)."""
    return events.groupBy("event_type").applyInPandasWithState(
        hysteresis_alert_fn,
        outputStructType=ALERT_OUT_SCHEMA,
        stateStructType=ALERT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch (q280): per-key state IS the mergeable
# sketch — the k smallest distinct element hashes. Merging a batch is
# set-union + re-truncate (the same associative operation q271's batch
# sketches merge with, so stream and batch sketch CONTENTS are identical
# and the estimate hash-matches). The worker emits raw integers only
# (h_k, sizes); the estimate and rounding happen JVM-side after the
# stream, per the no-float-math-in-workers rule.

KMV_OUT_SCHEMA = "day date, sketch_size long, kth_hash long, batch_no long"
KMV_STATE_SCHEMA = "hashes array<long>, batch_no long"
KMV_STREAM_K = 32


def kmv_sketch_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        hashes, batch_no = state.get
        acc = set(hashes)
    else:
        acc, batch_no = set(), 0
    for pdf in pdfs:
        acc.update(int(h) for h in pdf["h"])
    kmin = sorted(acc)[:KMV_STREAM_K]
    batch_no += 1
    state.update((kmin, batch_no))
    yield pd.DataFrame(
        [
            {
                "day": key[0],
                "sketch_size": len(kmin),
                "kth_hash": kmin[-1] if len(kmin) == KMV_STREAM_K else 0,
                "batch_no": batch_no,
            }
        ]
    )


def kmv_sketch_stream(hashed: DataFrame) -> DataFrame:
    """Per-day streaming KMV sketches over a (day, h) element stream."""
    return hashed.groupBy("day").applyInPandasWithState(
        kmv_sketch_fn,
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming SPRT (Wald sequential test) — q317's stateful twin. Constants
# are canonical HERE (stats_tests imports them) because queries import
# streaming, never the reverse. Bernoulli LLR increments are integer
# micro-nat constants, so per-arm state is four integers and the walk is
# bit-identical to the batch window (q317's oracle doubles as the
# stream/batch-equivalence gate).

SPRT_S = 154151  # ln(0.35/0.30) µ-nats per success
SPRT_F = -74108  # ln(0.65/0.70) µ-nats per failure
SPRT_THR = 2944439  # ±ln(19) µ-nats (alpha = beta = 0.05)
SPRT_VALUE_CUT = 50.0

SPRT_OUT_SCHEMA = "arm long, n long, llr_mu long, decided_n long, decided_llr long"
SPRT_STATE_SCHEMA = "n long, llr long, decided_n long, decided_llr long"


def sprt_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-arm sequential LLR walk. decided_n == 0 means 'no boundary
    crossed yet' (observation indices are 1-based, so 0 is a safe
    sentinel); once crossed, the decision point is frozen — SPRT stops
    sampling at the first crossing, later data must not move it."""
    n, llr, dec_n, dec_llr = state.get if state.exists else (0, 0, 0, 0)
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    for v in pdf["value"]:
        n += 1
        llr += SPRT_S if float(v) > SPRT_VALUE_CUT else SPRT_F
        if dec_n == 0 and (llr >= SPRT_THR or llr <= -SPRT_THR):
            dec_n, dec_llr = n, llr
    state.update((n, llr, dec_n, dec_llr))
    yield pd.DataFrame(
        [{"arm": key[0], "n": n, "llr_mu": llr, "decided_n": dec_n, "decided_llr": dec_llr}]
    )


def sprt_stream(events: DataFrame) -> DataFrame:
    """Streaming SPRT per experiment arm (update mode: each micro-batch
    re-emits the arm's walk state; the latest row is the answer)."""
    return events.groupBy("arm").applyInPandasWithState(
        sprt_fn,
        outputStructType=SPRT_OUT_SCHEMA,
        stateStructType=SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming TWAP: the q372 batch operator as keyed LOCF state. State per
# (event_type, day) = (last_us, last_cents, acc_num, acc_den, n_segments);
# each arriving observation CLOSES the previous one's holding segment
# (value held until the next observation), exactly the batch lead() fold.
# Within-batch disorder is handled by sorting on (ts, cents) — the batch
# twin's tie order — and zero-length segments are skipped on both sides.

TWAP_OUT_SCHEMA = (
    "event_type string, day date, n_segments long, held_us long, twap_cents long"
)
TWAP_STATE_SCHEMA = (
    "last_us long, last_cents long, acc_num long, acc_den long, n_segments long"
)


def twap_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "cents"], kind="mergesort"
    )
    last_us, last_cents, num, den, nseg = (
        state.get if state.exists else (None, None, 0, 0, 0)
    )
    for ts, cents in zip(pdf["ts"], pdf["cents"]):
        us = int(pd.Timestamp(ts).value // 1000)
        if last_us is not None:
            dur = us - last_us
            if dur > 0:
                num += int(last_cents) * dur
                den += dur
                nseg += 1
        last_us, last_cents = us, int(cents)
    state.update((last_us, last_cents, num, den, nseg))
    if den > 0:
        yield pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "day": key[1],
                    "n_segments": nseg,
                    "held_us": den,
                    "twap_cents": num // den,
                }
            ]
        )


def twap_stream(obs: DataFrame) -> DataFrame:
    """Streaming per-(series × day) TWAP (update mode: each micro-batch
    emits the key's running time-weighted average)."""
    return obs.groupBy("event_type", "day").applyInPandasWithState(
        twap_fn,
        outputStructType=TWAP_OUT_SCHEMA,
        stateStructType=TWAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram state (q439): per event_type a 20-bin count
# vector over value cents — the constant-size mergeable sketch that answers
# any quantile at read time (q211's batch histogram carried as stream
# state). Each bin is a built-in conditional count, so the state store
# merges bins by addition: associative and commutative, safe under retries
# and repartitioning.

HIST_NBINS = 20
HIST_BIN_W_C = 2500  # cents per bin ($25); values cap into the last bin
HIST_OUT_SCHEMA = (
    "event_type string, n_obs long, p50_lo_c long, p90_lo_c long, p99_lo_c long"
)
_HIST_QS_BP = (5000, 9000, 9900)


def _bins(cond):
    """Per-bin counts over value cents of the rows where `cond` holds: one
    built-in conditional count per bin, packed into an array in bin order
    after the aggregate."""
    from pyspark.sql import functions as F

    b = F.least(
        F.expr(f"CAST(round(value * 100) AS BIGINT) div {HIST_BIN_W_C}"),
        F.lit(HIST_NBINS - 1),
    )
    return F.array(*[F.count_if(cond & (b == j)) for j in range(HIST_NBINS)])


def _total(bins: str) -> str:
    return f"aggregate({bins}, 0L, (a, c) -> a + c)"


def hist_quantile_stream(events: DataFrame) -> DataFrame:
    """Streaming per-type histogram-quantile state (update mode: each
    micro-batch emits the type's current p50/p90/p99 bin floors, the
    floor of the first bin whose cumulative count reaches rank
    ceil(n·p))."""
    from pyspark.sql import functions as F

    cum = "transform(bins, (c, i) -> " + _total("slice(bins, 1, i + 1)") + ")"
    floors = [
        F.expr(
            "(array_position(transform(cum, c -> "
            f"c >= (n_obs * {p} + 9999) div 10000), true) - 1) * {HIST_BIN_W_C}"
        ).alias(f"p{p // 100}_lo_c")
        for p in _HIST_QS_BP
    ]
    return (
        events.groupBy("event_type")
        .agg(_bins(F.lit(True)).alias("bins"))
        .select(
            "event_type",
            F.expr(_total("bins")).alias("n_obs"),
            F.expr(cum).alias("cum"),
        )
        .select("event_type", "n_obs", *floors)
    )


# ---- q457: streaming PSI drift monitor ------------------------------------
# Reference/current split at a FIXED event-time boundary so the fold stays
# commutative (order- and repartition-safe): rows before the boundary build
# the frozen reference histogram, rows after it the current one. PSI itself
# is computed OUTSIDE the stream (Spark SQL over the emitted bin vectors).
PSI_SPLIT_TS = "2024-01-15"
PSI_OUT_SCHEMA = (
    "event_type string, n_ref long, n_cur long, "
    "ref_bins array<long>, cur_bins array<long>"
)


def psi_drift_stream(events: DataFrame) -> DataFrame:
    """Streaming per-type reference/current histogram state for the PSI
    drift monitor (update mode: each micro-batch re-emits the key's bin
    vectors)."""
    from pyspark.sql import functions as F

    is_ref = F.coalesce(
        F.col("ts") < F.lit(PSI_SPLIT_TS).cast("timestamp"), F.lit(False)
    )
    return (
        events.groupBy("event_type")
        .agg(_bins(is_ref).alias("ref_bins"), _bins(~is_ref).alias("cur_bins"))
        .select(
            "event_type",
            F.expr(_total("ref_bins")).alias("n_ref"),
            F.expr(_total("cur_bins")).alias("n_cur"),
            "ref_bins",
            "cur_bins",
        )
    )
