"""Tracing helpers for the traced run: a streaming progress listener, a
process-tree sampler and a roll-up of Spark's event log. Spans are plain
dicts kept in memory (`Result.spans`) and written out when the run ends.

Nothing here is used by the untraced runs that produce the end-to-end
numbers.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.launcher import tree_pids


class ProgressListener(StreamingQueryListener):
    """Captures every StreamingQueryProgress, keyed by query id."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events[p["id"]].append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, query_id: str) -> list[dict]:
        with self._lock:
            return list(self.events.get(query_id, []))


def _rss_and_cpu(pids: list[int]) -> tuple[int, float]:
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    rss, cpu = 0, 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu += (int(fields[11]) + int(fields[12])) / tick  # utime + stime
        rss += int(fields[21]) * page
    return rss, cpu


class ProcSampler:
    """Peak RSS and CPU time of this process and every descendant (the JVM
    and its Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.rss_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> float:
        rss, cpu = _rss_and_cpu(tree_pids(os.getpid()))
        self.rss_peak = max(self.rss_peak, rss)
        return cpu

    def __enter__(self):
        self._t0, self._cpu0 = time.perf_counter(), self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.cpu_s = self.sample() - self._cpu0
        self.wall_s = time.perf_counter() - self._t0
        return False

    def metrics(self, slots: int) -> dict:
        return {
            "proc.rss_peak_mb": self.rss_peak / 2**20,
            "proc.cpu_util": self.cpu_s / (self.wall_s * slots),
        }


# ------------------------------------------------------------ event log

EXECUTOR_FIELDS = (
    "task.run_s",
    "task.cpu_s",
    "task.gc_s",
    "task.deser_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "spill.bytes",
)


def read_event_log(log_dir: Path) -> dict:
    """Jobs and per-stage task-metric sums from the (single) event log in
    `log_dir`: {"jobs": {job_id: {"tags", "submit_ms", "stages"}},
    "stages": {stage_id: {field: sum, "tasks": n}}}."""
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = ev.get("Properties", {}).get("spark.job.tags", "")
                    jobs[ev["Job ID"]] = {
                        "tags": set(filter(None, tags.split(","))),
                        "submit_ms": ev.get("Submission Time", 0),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = stages[ev["Stage ID"]]
                    s["tasks"] += 1
                    s["task.run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["task.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["task.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["task.deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    s["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    s["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    s["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {"jobs": jobs, "stages": stages}


def rollup(log: dict, job_ids) -> dict:
    """Sum executor metrics over the stages that ran in `job_ids` (each
    stage is billed to the first job that lists it)."""
    owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            owner.setdefault(sid, jid)
    wanted = set(job_ids)
    out = {k: 0.0 for k in EXECUTOR_FIELDS}
    n_stages = n_tasks = 0
    for sid, s in log["stages"].items():
        if owner.get(sid) in wanted:
            n_stages += 1
            n_tasks += int(s["tasks"])
            for k in EXECUTOR_FIELDS:
                out[k] += s[k]
    out["stages"] = n_stages
    out["tasks"] = n_tasks
    return out


def jobs_tagged(log: dict, tag: str) -> list[int]:
    """Jobs carrying `tag` (Spark prefixes user tags with session and
    thread ids)."""
    return [
        jid
        for jid, j in log["jobs"].items()
        if any(t == tag or t.endswith("-" + tag) for t in j["tags"])
    ]


def flush_listener_bus(spark) -> None:
    """Wait until every queued listener event (the event log's included)
    has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def executor_layers(log: dict, job_ids, wall_s: float, slots: int) -> dict:
    """Executor metrics of `job_ids` plus the scheduling overhead: the part
    of `wall_s` not covered by task run time spread over all slots."""
    out = rollup(log, job_ids)
    out["sched.overhead_s"] = wall_s - out["task.run_s"] / slots
    return out


def jobs_between(log: dict, start_s: float, end_s: float) -> list[int]:
    return [
        jid
        for jid, j in log["jobs"].items()
        if start_s * 1e3 <= j["submit_ms"] <= end_s * 1e3
    ]
