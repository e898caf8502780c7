"""Process set-up for one benchmark run: paths, environment, the Spark
session sized to the machine, box telemetry, and clean shutdown.

The benchmark runs from any working directory. Everything it writes goes to
a work directory inside the checkout (`.perfbench_work/`), including Spark's
local dirs, the JVM's and Python's temp files and the warehouse dir.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "kinesis_customer_sample_spark"
WORK = ROOT / ".perfbench_work"


def package_present() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file()


def make_run_dir() -> Path:
    """A fresh per-process directory under the work dir; point every
    temp-file consumer at it and set the environment the JVM and the Python
    workers inherit. Must run before the JVM starts."""
    WORK.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=WORK))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # Every JVM (spark-submit's launcher too): temp files in the run dir and
    # no hsperfdata file, which the JVM otherwise writes under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the package by name; they do not inherit the
    # driver's sys.path, only the environment of the JVM that forks them.
    os.environ["PYTHONPATH"] = str(ROOT)
    # The engine's own knobs come from the benchmark, not the caller.
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return run_dir


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: local mode keeps
    driver and executors in one JVM, and the Python workers need the rest."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kib // 4 // 2**20))}g"


def calibrate(seconds: float = 0.3) -> int:
    """Pure-Python spin rate (loop iterations per second): falls in
    proportion to CPU contention and frequency throttling."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(10_000):
            pass
        n += 1
    return round(n * 10_000 / (time.perf_counter() - t0))


def box() -> dict:
    return {
        "nproc": nproc(),
        "loadavg1": round(os.getloadavg()[0], 2),
        "calib_ops_per_s": calibrate(),
    }


def start_session(run_dir: Path, event_log: bool = False):
    """SparkSession on local[nproc] with memory that fits the machine."""
    from kinesis_customer_sample_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # the engine's defaults, whatever the caller's environment says
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
    }
    if event_log:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = nproc()
    return get_spark(
        app_name="perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf
    )


def tree_pids(root: int) -> list[int]:
    """`root` and all its descendants, from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers it forked to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM must not hang the run
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the workers outlive the JVM by a moment, reparented away from us
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.05)


def remove_run_dir(run_dir: Path) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
