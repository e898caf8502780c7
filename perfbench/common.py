"""Small shared pieces: the per-run result and the statistics helpers."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Ctx:
    """What a workload needs from the launcher."""

    spark: object
    run_dir: Path
    seed: int
    traced: bool
    tiny: bool  # smoke-test sizes
    slots: int  # task slots (local[slots])


@dataclass
class Result:
    """What one workload run reports. `e2e` and `layers` are keyed by the
    metric names in BENCHMARK.json; `detail` and `spans` go to the trace
    file and the detail line only."""

    attempted: int
    failed: int
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timed_median(n: int, fn):
    """Run `fn` n times; return (median wall seconds, list of results)."""
    times, results = [], []
    for _ in range(n):
        t0 = time.perf_counter()
        results.append(fn())
        times.append(time.perf_counter() - t0)
    return statistics.median(times), results
