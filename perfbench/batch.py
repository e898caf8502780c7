"""The batch_mix workload: a fixed mix of 20 registry queries over catalog
tables generated from the seed, each built with
`registry.load_registry()[name].fn` and executed, with `clearCache` between
queries.

The timed window is one pass over the mix, and every query in it runs for
the first time in the session, after a generic warm-up (the session's
first job and the Python worker pool) billed to set-up: that is what a batch job pays
each time it is submitted. The pass runs through `compare.compare_query`,
so the timed execution's own output is what gets checked against the
DuckDB oracle. A query's time is its build (`fn`) plus its execution into
an Arrow table; the oracle and the comparison are not timed.
"""

from __future__ import annotations

import dataclasses
import statistics
import time

from kinesis_customer_sample_spark.compare import compare_query, duckdb_connection
from kinesis_customer_sample_spark.registry import load_registry
from perfbench import gen
from perfbench.common import Result, percentile, timed_median
from perfbench.trace import (
    executor_layers,
    flush_listener_bus,
    jobs_tagged,
    read_event_log,
)

QUERIES = (
    "q01", "q06", "q35", "q107", "q26", "q108", "q62", "q69", "q72", "q78",
    "q153", "q176", "q199", "q200", "q265", "q85", "q385", "q464", "q396", "q502",
)
FULL_SF = 0.01
TINY_SF = 0.001


def query_names(registry) -> list[str]:
    """Registry names for the QUERIES prefixes (`q01` → `q01_pricing_summary`)."""
    by_prefix = {name.split("_", 1)[0]: name for name in registry}
    return [by_prefix[q] for q in QUERIES]


class _TimedFrame:
    """Stands in for the DataFrame `compare_query` gets from the query and
    times its execution (`toArrow`)."""

    def __init__(self, df, rec: dict):
        self.df, self.rec = df, rec

    def toArrow(self):
        t0 = time.perf_counter()
        try:
            if self.rec["tag"]:
                self.df.sparkSession.addTag(self.rec["tag"] + ".execute")
            return self.df.toArrow()
        finally:
            if self.rec["tag"]:
                self.df.sparkSession.removeTag(self.rec["tag"] + ".execute")
            self.rec["execute_s"] = time.perf_counter() - t0


def _timed(q, rec: dict):
    """`q` with a build step that is timed (and tagged when traced)."""

    def fn(spark, sf_dir):
        t0 = time.perf_counter()
        try:
            if rec["tag"]:
                spark.addTag(rec["tag"] + ".build")
            df = q.fn(spark, sf_dir)
        finally:
            if rec["tag"]:
                spark.removeTag(rec["tag"] + ".build")
            rec["build_s"] = time.perf_counter() - t0
        return _TimedFrame(df, rec)

    return dataclasses.replace(q, fn=fn)


def _warm_up(spark, slots: int) -> None:
    """First job of the session and the Python worker pool (one worker per
    slot), without touching the mix."""
    spark.range(100_000).repartition(slots).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def checked_pass(spark, registry, names, sf_dir: str, tag: bool = False):
    """Run every query once through compare_query: per query a record with
    build_s, execute_s and the comparison outcome (`error` is None when the
    output matched the oracle)."""
    con = duckdb_connection(sf_dir)
    out: dict[str, dict] = {}
    try:
        for name in names:
            spark.catalog.clearCache()
            rec = {"tag": f"perfbench.{name}" if tag else None, "start": time.time(),
                   "build_s": 0.0, "execute_s": 0.0, "error": None}
            try:
                res = compare_query(spark, _timed(registry[name], rec), sf_dir, con)
                if not res.ok:
                    rec["error"] = res.report()
            except Exception as ex:  # noqa: BLE001 — a failing query is a result
                rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            out[name] = rec
    finally:
        con.close()
        spark.catalog.clearCache()
    return out


def tag_overhead(spark, registry, names, sf_dir: str) -> tuple[float, float]:
    """Each query into the noop sink twice, without and with job tags,
    alternating which goes first; total seconds (plain, tagged)."""
    totals = [0.0, 0.0]
    for i, name in enumerate(names):
        for tagged in ((False, True) if i % 2 == 0 else (True, False)):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            if tagged:
                spark.addTag(f"perfbench.{name}.noop")
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            if tagged:
                spark.removeTag(f"perfbench.{name}.noop")
            totals[tagged] += time.perf_counter() - t0
    spark.catalog.clearCache()
    return totals[0], totals[1]


def run_batch(ctx, seconds: float, t_session: float) -> Result:
    spark = ctx.spark
    sf = TINY_SF if ctx.tiny else FULL_SF
    sf_dir = str(ctx.run_dir / "tables")
    t_gen, digests = timed_median(
        3, lambda: gen.write_tables(sf_dir, gen.batch_tables(ctx.seed, sf))
    )
    t0 = time.perf_counter()
    registry = load_registry()
    names = query_names(registry)
    _warm_up(spark, ctx.slots)
    t_warm = time.perf_counter() - t0

    recs = checked_pass(spark, registry, names, sf_dir, tag=ctx.traced)
    ok = {n: r for n, r in recs.items() if r["error"] is None}
    per_query = {n: r["build_s"] + r["execute_s"] for n, r in ok.items()}
    if not per_query:
        raise RuntimeError(f"every query failed: {recs}")
    walls = list(per_query.values())
    total = sum(walls)

    res = Result(attempted=len(names), failed=len(names) - len(ok) + len(set(digests)) - 1)
    res.detail.update(
        input_digest=sorted(set(digests)),
        sf=sf,
        gen_s=t_gen,
        warm_up_s=t_warm,
        total_s=total,
        query_p50_s=statistics.median(walls),
        per_query_s=per_query,
        errors={n: r["error"] for n, r in recs.items() if r["error"] is not None},
    )
    res.e2e = {
        "setup_s": t_session + t_gen + t_warm,
        "throughput_rps": len(ok) / total,
        "latency_p50_s": percentile(walls, 50),
        "latency_p95_s": percentile(walls, 95),
    }
    if ctx.traced:
        res.layers = _layers(ctx, recs, res)
        plain, tagged = tag_overhead(spark, registry, list(ok), sf_dir)
        res.layers["trace.overhead_pct"] = 100 * (tagged / plain - 1)
        res.detail.update(warm_noop_s=plain, warm_noop_tagged_s=tagged)
    return res


def _layers(ctx, recs: dict, res: Result) -> dict:
    """Per-query build/execute split and executor metrics of the checked
    pass, from its tagged jobs in the event log."""
    flush_listener_bus(ctx.spark)
    log = read_event_log(ctx.run_dir / "eventlog")
    layers = {"build.s": 0.0, "build.jobs": 0, "execute.s": 0.0, "execute.jobs": 0}
    per_query = {}
    for name, r in recs.items():
        build = jobs_tagged(log, f"perfbench.{name}.build")
        execute = jobs_tagged(log, f"perfbench.{name}.execute")
        wall = r["build_s"] + r["execute_s"]
        q = executor_layers(log, build + execute, wall, ctx.slots)
        layers["build.s"] += r["build_s"]
        layers["build.jobs"] += len(build)
        layers["execute.s"] += r["execute_s"]
        layers["execute.jobs"] += len(execute)
        for k, v in q.items():
            layers[k] = layers.get(k, 0.0) + v
        per_query[name] = {"build_s": r["build_s"], "execute_s": r["execute_s"],
                           "build_jobs": len(build), "execute_jobs": len(execute), **q}
    res.spans.extend(
        {"name": "query", "query": n, "start": r["start"],
         "end": r["start"] + r["build_s"] + r["execute_s"],
         "build_s": r["build_s"], "execute_s": r["execute_s"]}
        for n, r in recs.items()
    )
    res.detail["layers_per_query"] = per_query
    return layers
