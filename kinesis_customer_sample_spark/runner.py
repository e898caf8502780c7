"""The one way the dev and bench tools pick and run registered queries.

`bench.py`, `scripts/profile_queries.py`, `scripts/check_parity.py` and
`scripts/check_partition_invariance.py` all select queries with `select`,
isolate per-query failures with `sweep`, and execute through `timed_noop` or
`canonical_rows`. Every execution is one `scope.query_scope` that rebuilds
the plan, so each run computes from source: no run is helped by an
intermediate that an earlier run or an earlier query materialised.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.compare import _arrow_rows
from kinesis_customer_sample_spark.registry import Query
from kinesis_customer_sample_spark.scope import query_scope


def select(
    registry: Mapping[str, Any], patterns: Iterable[str]
) -> tuple[list[str], list[str]]:
    """`(names, unknown)`: the registry names the patterns match, and the
    patterns that match none.

    A pattern matches a name equal to it or starting with it. Names come in
    pattern order, each pattern expanding in registry order; a name two
    patterns match is listed once. No patterns select the whole registry."""
    patterns = list(patterns)
    if not patterns:
        return list(registry), []
    names: dict[str, None] = {}
    unknown = []
    for p in patterns:
        hits = [n for n in registry if n.startswith(p)]
        if not hits:
            unknown.append(p)
        names.update(dict.fromkeys(hits))
    return list(names), unknown


def sweep(
    names: Iterable[str], one: Callable[[str], Any]
) -> tuple[dict[str, Any], dict[str, str]]:
    """`(results, errors)` of `one(name)` per name. A query that raises is
    recorded under `errors` as `"<type>: <message>"` and the rest still run."""
    results: dict[str, Any] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            results[name] = one(name)
        except Exception as ex:  # noqa: BLE001 — isolate, report, continue
            errors[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
    return results, errors


def _noop(df: DataFrame) -> None:
    # computes every row, transfers nothing to the driver
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark: SparkSession, q: Query, sf_dir: str) -> None:
    """Untimed session warm-up before a timed loop.

    Two synthetic jobs warm JVM codegen, the shuffle machinery and the
    Python worker pool (the first pandas stage spawns one worker per core,
    ~5-8 s, reused afterwards). One execution of `q` then warms what they
    do not: the catalog and parquet-scan path and a realistic codegen
    compile, which the first timed query would otherwise be billed. A
    failing `q` must not stop the caller: its own timed run reports it."""
    _noop(spark.range(100_000).groupBy(F.col("id") % 7).count())
    _noop(
        spark.range(100_000)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(lambda it: it, "id long")
    )
    try:
        with query_scope(spark):
            _noop(q.fn(spark, sf_dir))
    except Exception:  # noqa: BLE001 — warm-up must never kill the caller
        pass


def timed_noop(spark: SparkSession, q: Query, sf_dir: str, runs: int = 3) -> float:
    """Min-of-`runs` wall seconds of building `q` and writing it to the noop
    sink.

    The min measures the plan, not the multi-second GC / JIT stalls that
    land on arbitrary queries in a long JVM. Each run rebuilds the plan in
    its own query scope, whose untimed release drops the blocks its
    `scope.materialize` barriers stored, so no run reads an intermediate
    an earlier run computed and a suite does not pile up executor memory.
    `t0` is taken before the builder runs, so the jobs a barrier runs
    while the builder builds are billed to the query."""
    best = float("inf")
    for _ in range(runs):
        with query_scope(spark):
            t0 = time.perf_counter()
            _noop(q.fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
    return best


def canonical_rows(
    spark: SparkSession, q: Query, sf_dir: str
) -> tuple[list[str], list[tuple]]:
    """`q`'s result as (sorted column names, sorted canonical row tuples),
    computed from source — the exact comparator of `compare.py`."""
    with query_scope(spark):
        tbl = q.fn(spark, sf_dir).toArrow()
    return _arrow_rows(tbl)
