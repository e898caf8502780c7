#!/usr/bin/env python
"""Optimization-round profiler: isolated min-of-3 timing + formatted plan
+ job/stage census for named queries.

Usage: python scripts/profile_queries.py [--plans-dir DIR] name [name ...]

Names select queries by the runner's rule (a name or a prefix of names).
For each query: runs via the noop sink (guide §1.4) with a job description
(guide §1.5), reports min-of-3 wall seconds, and writes the
`.explain("formatted")` output to DIR/<name>_<tag>.txt (tag from
$PROFILE_TAG, default "before"). Also prints a plan census line:
Exchange count, join strategies, Python-eval nodes, scan count.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from kinesis_customer_sample_spark.registry import load_registry  # noqa: E402
from kinesis_customer_sample_spark.runner import select, sweep, timed_noop, warm_up  # noqa: E402
from kinesis_customer_sample_spark.scope import query_scope  # noqa: E402
from kinesis_customer_sample_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("PROFILE_TAG", "before")
RUNS = int(os.environ.get("PROFILE_RUNS", "3"))


def census(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "SMJ": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "BHJ": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "SHJ": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "BNLJ": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "Cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "PyEval": len(re.findall(r"BatchEvalPython|ArrowEvalPython", plan)),
        "MapInPandas": len(re.findall(r"MapInPandas|MapInArrow", plan)),
        "Scan": len(re.findall(r"Scan parquet|Scan json|Scan csv|Scan text", plan)),
        "Window": len(re.findall(r"\bWindow\b", plan)),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "InMemory": len(re.findall(r"InMemoryTableScan", plan)),
    }
    return " ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    if args and args[0] == "--plans-dir":
        plans_dir = args[1]
        args = args[2:]
        os.makedirs(plans_dir, exist_ok=True)
    reg = load_registry()
    names, unknown = select(reg, args)
    if unknown:
        print("UNKNOWN:", unknown)

    extra = json.loads(os.environ.get("PROFILE_EXTRA_CONF", "{}"))
    spark = get_spark(app_name="kcss-profile", extra_conf=extra or None)
    if names:
        warm_up(spark, reg[names[0]], SF_DIR)
    sc = spark.sparkContext

    def profile(name: str) -> float:
        with query_scope(spark):  # the plan a timed run executes
            df = reg[name].fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        sc.setJobDescription(f"profile:{name}")
        try:
            best = timed_noop(spark, reg[name], SF_DIR, RUNS)
        finally:
            sc.setJobDescription(None)
        if plans_dir:
            with open(os.path.join(plans_dir, f"{name}_{TAG}.txt"), "w") as fh:
                fh.write(plan)
        print(f"PROF {best:7.3f}s  {name}  [{census(plan)}]", flush=True)
        return best

    results, errors = sweep(names, profile)
    for name, err in errors.items():
        print(f"PROF ERROR {name}: {err}", flush=True)
    print("PROF TOTAL:", round(sum(results.values()), 3), "over", len(results))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
