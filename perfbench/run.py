"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload consumer_catchup --seed 1 --seconds 8 --trace 0

Works from any working directory; writes only under `.perfbench_work/` in
the checkout. The last line of stdout is one JSON object
`{"correct", "attempted", "failed", "metrics"}`: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics (from a separate, traced run). The line before it holds the run's
details: input digest, box telemetry (nproc, loadavg, CPU calibration).
The exit code is 1 when any output is incorrect.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import launcher  # noqa: E402

# Per-layer metric families a workload does not exercise report 0.
NOT_EXERCISED = {
    "consumer_catchup": ("build.",),
    "consumer_live": ("build.",),
    "batch_mix": ("decode.", "state.", "sink.", "trigger."),
}
# A traced consumer run times two windows (untraced, then traced) and replays
# pipeline prefixes; shorter windows keep it within the run time limit on a
# slow machine. The end-to-end metrics come from untraced runs only.
TRACED_WINDOW_S = 15.0


def _spec() -> dict:
    with open(launcher.ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _metrics(spec: dict, workload: str, values: dict, traced: bool) -> dict:
    wanted = spec["per_layer" if traced else "end_to_end"]
    out = {}
    for m in wanted:
        name = m["name"]
        if name not in values and traced and name.startswith(NOT_EXERCISED[workload]):
            values[name] = 0.0
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"{name} is not finite: {v}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOT_EXERCISED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)
    if not launcher.package_present():
        print(f"package {launcher.PACKAGE} not found under {launcher.ROOT}", file=sys.stderr)
        return 2
    spec = _spec()

    run_dir = launcher.make_run_dir()
    from perfbench import batch, consumer
    from perfbench.common import Ctx
    from perfbench.trace import ProcSampler

    workloads = {
        "consumer_catchup": consumer.run_catchup,
        "consumer_live": consumer.run_live,
        "batch_mix": batch.run_batch,
    }
    traced = bool(args.trace)
    seconds = min(args.seconds, TRACED_WINDOW_S) if traced else args.seconds
    t_run = time.perf_counter()
    box_start = launcher.box()
    spark = None
    try:
        sampler = ProcSampler() if traced else contextlib.nullcontext()
        with sampler:
            t0 = time.perf_counter()
            spark = launcher.start_session(run_dir, event_log=traced)
            t_session = time.perf_counter() - t0
            ctx = Ctx(spark, run_dir, args.seed, traced, args.tiny, launcher.nproc())
            result = workloads[args.workload](ctx, seconds, t_session)
        if traced:
            result.layers.update(sampler.metrics(ctx.slots))
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            launcher.stop_session(spark)
        launcher.remove_run_dir(run_dir)
    result.detail.update(session_s=t_session, stop_s=time.perf_counter() - t_stop,
                         run_wall_s=time.perf_counter() - t_run)

    result.e2e["ok_frac"] = 1 - result.failed / max(result.attempted, 1)
    metrics = _metrics(spec, args.workload, result.layers if traced else result.e2e, traced)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": seconds,
        "trace": args.trace,
        "box_start": box_start,
        "box_end": launcher.box(),
        **{k: v for k, v in result.detail.items() if k not in ("progress", "layers_per_query")},
    }
    if traced:
        traces = launcher.WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{args.workload}-seed{args.seed}.json"
        with open(path, "w") as f:
            json.dump({"detail": {**detail, **result.detail}, "metrics": metrics,
                       "spans": result.spans}, f, indent=1, default=str)
        detail["trace_file"] = str(path.relative_to(launcher.ROOT))
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0 if result.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
