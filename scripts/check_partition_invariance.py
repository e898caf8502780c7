"""Partition-invariance sweep: every registered query must produce the
IDENTICAL canonical row set when the physical partitioning is perturbed.

Why this gate exists: the one class of nondeterminism the DuckDB oracle
sweep CANNOT catch by construction is partition-order dependence that
happens to agree with the oracle on the default layout — float aggregates
whose partial-sum order varies with the shuffle fan-in, partition-local
logic (spark_partition_id two-phase top-k, mapInPandas carry-state)
whose merge step silently assumes a layout. The repo's discipline is
"no float ever enters an aggregate" (SCALE.md); this sweep PROVES it per
query by running each query twice in one session —

  run A: the session's own confs (get_spark: shuffle.partitions = cores,
         maxPartitionBytes = 128m, AQE on), and
  run B: a hostile layout (shuffle.partitions = 7, maxPartitionBytes =
         1m — many small scan splits, different reduce fan-in)

— and diffing the canonical sorted row tuples (compare.py's exact
comparator, NULL-vs-NaN-faithful, no float widening).

Usage: python scripts/check_partition_invariance.py [prefix...]
Env:   PARITY_SF_DIR (default /root/testdata/sf0.01)

Prints one line per query and an INVAR FAILED summary, mirroring
scripts/check_parity.py.

Cross-process mode — executor-count independence (spark.range fixtures
partition by defaultParallelism = local[N] cores, so N is a layout axis
only a separate JVM can vary):

  SPARK_GRAFT_CPUS=32 ... check_partition_invariance.py --dump /tmp/h32.json
  SPARK_GRAFT_CPUS=4  ... check_partition_invariance.py --compare /tmp/h32.json

--dump writes one sha256 of each query's canonical rows (single run,
default confs); --compare recomputes and diffs against the dump.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from kinesis_customer_sample_spark.registry import load_registry  # noqa: E402
from kinesis_customer_sample_spark.runner import canonical_rows, select, sweep  # noqa: E402
from kinesis_customer_sample_spark.session import get_spark  # noqa: E402

_PERTURBED = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "1m",
    # also flip AQE off: coalesced-partition and runtime-replan effects are
    # a second layout axis the default run exercises and this one removes
    "spark.sql.adaptive.enabled": "false",
}


def _row_hash(cols, rows) -> str:
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def _cross_process(mode: str, path: str, patterns: list[str], sf_dir: str) -> list[str]:
    """--dump / --compare: canonical-row hashes across separate processes
    (the executor-count axis — see module docstring). Returns the failures."""
    reg = load_registry()
    names, unknown = select(reg, patterns)
    baseline = json.load(open(path)) if mode == "--compare" else {}
    spark = get_spark(app_name="kcss-cross-process-invariance")
    hashes, errors = sweep(
        names, lambda name: _row_hash(*canonical_rows(spark, reg[name], sf_dir))
    )
    spark.stop()
    for name, err in errors.items():
        print(f"INVAR [ERR] {name}: {err}")
    failed = list(errors) + unknown
    if mode == "--dump":
        json.dump(hashes, open(path, "w"))
        print(f"INVAR DUMPED: {len(hashes)} hashes -> {path}")
        return failed
    for name, got in hashes.items():
        want = baseline.get(name)
        if want is None:
            print(f"INVAR [ERR] {name}: not in baseline dump")
        elif want != got:
            print(f"INVAR [FAIL] {name}: hash differs across processes")
        else:
            print(f"INVAR [OK] {name}: cross-process hash match")
        if want != got:
            failed.append(name)
    # Symmetric coverage check: baseline entries the current run never
    # examined mean the registry shrank or a prefix filter was typo'd —
    # the gate must not pass silently with reduced coverage (r8 advice).
    # Scope the check to the same patterns as the run itself: a
    # prefix-scoped --compare against a full --dump is a documented
    # workflow and must not fail on the baseline's out-of-scope keys
    # (r9 advice).
    in_scope, _ = select(baseline, patterns)
    unexamined = sorted(set(in_scope) - set(names))
    if unexamined:
        print(
            f"INVAR [ERR] baseline-only entries never examined "
            f"({len(unexamined)}): {unexamined[:10]}"
            f"{' ...' if len(unexamined) > 10 else ''}"
        )
    return failed + unexamined


def _layout_sweep(patterns: list[str], sf_dir: str) -> list[str]:
    """Run A on the session's own confs, run B on `_PERTURBED`. Returns the
    failures."""
    reg = load_registry()
    names, unknown = select(reg, patterns)
    spark = get_spark(app_name="kcss-partition-invariance")
    defaults = {k: spark.conf.get(k) for k in _PERTURBED}

    def check(name: str) -> tuple[bool, float]:
        q = reg[name]
        t0 = time.perf_counter()
        cols_a, rows_a = canonical_rows(spark, q, sf_dir)
        try:
            for k, v in _PERTURBED.items():
                spark.conf.set(k, v)
            cols_b, rows_b = canonical_rows(spark, q, sf_dir)
        finally:
            for k, v in defaults.items():
                spark.conf.set(k, v)
        dt = time.perf_counter() - t0
        if cols_a != cols_b:
            print(f"INVAR [FAIL] {name}: schema drift {cols_a} vs {cols_b}")
        elif rows_a != rows_b:
            n_diff = sum(1 for a, b in zip(rows_a, rows_b) if a != b) + abs(
                len(rows_a) - len(rows_b)
            )
            print(
                f"INVAR [FAIL] {name}: {n_diff} rows differ under perturbed"
                f" partitioning ({len(rows_a)} vs {len(rows_b)} rows)"
            )
            for a, b in [ab for ab in zip(rows_a, rows_b) if ab[0] != ab[1]][:3]:
                print(f"    A={a!r}\n    B={b!r}")
        else:
            print(f"INVAR [OK] {name}: {len(rows_a)} rows invariant ({dt:.2f}s)")
        sys.stdout.flush()
        return (cols_a, rows_a) == (cols_b, rows_b), dt

    t_all = time.perf_counter()
    results, errors = sweep(names, check)
    spark.stop()
    for name, err in errors.items():
        print(f"INVAR [ERR] {name}: {err}")
    slowest = sorted(results.items(), key=lambda kv: -kv[1][1])[:10]
    print(f"INVAR TOTAL: {time.perf_counter() - t_all:.1f}s over {len(names)} queries")
    print(f"INVAR SLOWEST: {[(n, round(dt, 2)) for n, (_, dt) in slowest]}")
    return [n for n, (ok, _) in results.items() if not ok] + list(errors) + unknown


def main() -> None:
    sf_dir = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
    args = sys.argv[1:]
    if args and args[0] in ("--dump", "--compare"):
        failed = _cross_process(args[0], args[1], args[2:], sf_dir)
    else:
        failed = _layout_sweep(args, sf_dir)
    print(f"INVAR FAILED: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
