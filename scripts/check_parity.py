"""Dev harness: oracle-compare a subset of registered queries.

Usage: python scripts/check_parity.py [prefix ...]   (default: all)
Env:   PARITY_SF_DIR (default /root/testdata/sf0.01)
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from kinesis_customer_sample_spark.compare import compare_query, duckdb_connection  # noqa: E402
from kinesis_customer_sample_spark.registry import load_registry  # noqa: E402
from kinesis_customer_sample_spark.runner import select, sweep  # noqa: E402
from kinesis_customer_sample_spark.scope import query_scope  # noqa: E402
from kinesis_customer_sample_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    reg = load_registry()
    names, unknown = select(reg, sys.argv[1:])
    spark = get_spark(cpus="8")
    con = duckdb_connection(SF_DIR)

    def check(name: str) -> tuple[bool, float]:
        q = reg[name]
        t0 = time.monotonic()
        if q.oracle is None:
            with query_scope(spark):
                n = q.fn(spark, SF_DIR).count()
            dt = time.monotonic() - t0
            print(f"CHECK [..] {name}: rows-only, {n} rows ({dt:.2f}s)", flush=True)
            return True, dt
        res = compare_query(spark, q, SF_DIR, con)
        dt = time.monotonic() - t0
        print(f"CHECK {res.report()} ({dt:.2f}s)", flush=True)
        return res.ok, dt

    results, errors = sweep(names, check)
    spark.stop()
    for name, err in errors.items():
        print(f"CHECK [XX] {name}: ERROR {err}", flush=True)
    failed = [n for n, (ok, _) in results.items() if not ok] + list(errors) + unknown
    timings = sorted(((dt, n) for n, (_, dt) in results.items()), reverse=True)
    print(f"CHECK TOTAL: {sum(t for t, _ in timings):.1f}s over {len(timings)} queries", flush=True)
    print("CHECK SLOWEST:", [(n, round(t, 2)) for t, n in timings[:12]], flush=True)
    print("CHECK FAILED:", failed, flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
