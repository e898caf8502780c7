"""SparkSession construction tuned for this engine.

Local-mode defaults follow the scale posture in SURVEY.md §4.2: AQE on
(runtime re-planning, partition coalescing, skew-join splitting), shuffle
partitions sized to cores rather than the 200 default, Arrow enabled for the
pandas-UDF decode edge, and session timezone pinned to UTC so event-time
semantics are stable across engines (the reference's `date` field is RFC3339,
guide:74-76).

On a real cluster the same builder applies minus `master`; partition counts
scale with `spark.sql.shuffle.partitions` and AQE coalescing handles the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding both this package and the worker entry module
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "kinesis-customer-sample-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Python workers run `pyspark_graft_worker` (next to this package) instead
    of `pyspark.worker`. Before CPython 3.13 every Python task otherwise
    re-reads the central directory of every zip archive on the worker's
    `sys.path` (pyspark.zip, the py4j zip, the spark-core jar), ~0.2 s per
    task whatever the task does; the entry module re-reads an archive only
    when it changed. The workers' PYTHONPATH gets the directory holding the
    entry module and this package, so they import both from any launch
    directory (they inherit the JVM's environment, not the driver's
    `sys.path`). `PYTHONSAFEPATH=1` (CPython >= 3.11) keeps the launch
    directory off the front of the workers' `sys.path`, where
    `python -m pyspark.daemon` would put it: a `pandas.py` or a package
    directory there would shadow the real module in every worker. On a
    cluster the executors need the repository at the same path, as they
    already did for the package itself. These are static confs: a session
    that already exists, or one the engine did not build, keeps Spark's own
    worker.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # The JVM's default 240 MB reserved code cache fills after a few
        # hundred whole-stage-codegen compiles; HotSpot then DISABLES the
        # JIT ("CodeCache is full. Compiler has been disabled.") and every
        # later query in a long session runs interpreted — the mechanism
        # behind late-suite bench readings 7-14× their isolated numbers
        # (r9 q462: 17 s in the 276-query suite, 1.2 s isolated).
        # UseCodeCacheFlushing additionally lets HotSpot evict cold
        # compiled methods instead of giving up. Local mode: driver JVM ==
        # executor JVM, so the driver option covers both.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
            ),
        )
        .config("spark.ui.enabled", "false")
        # events.parquet carries ns-precision timestamps Spark can't map
        # natively; read as long and convert in the catalog (catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs this engine relies on.

    Called by the catalog so queries behave correctly even when executed on a
    session we didn't build (the driver's verify harness supplies its own).
    All of these are runtime-settable SQL confs.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
