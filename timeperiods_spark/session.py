"""SparkSession construction tuned for this engine.

Local-mode defaults fit the host (local[usable cpus], a heap of half
its memory; arguments and the SPARK_GRAFT_* variables override); on a
real cluster the same options apply, with shuffle partitions sized to
~2-3x total cores and AQE left on to coalesce and to split skewed
partitions at runtime.

PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off by default
here: with it on, every ``pyspark.sql.functions`` call and ``Column``
method inspects the Python stack and makes about five extra py4j round
trips. The operators build their plans from SQL expression strings, so
the saving falls mostly on Column-built code around them. It only
adds the Python call site to Spark's error context; the typed
``TimeperiodsError`` checks do not depend on it. Turn it back on with
``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"})``. It is a static conf: a session built by hand keeps
PySpark's default (on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _half_host_memory() -> str:
    """Half the host's physical memory (MemTotal), in MiB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1024, total // 2**21)}m"


def get_spark(
    app_name: str = "timeperiods-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is enabled for runtime partition coalescing and skew-join
    splitting — the latter is the first line of defense against skewed
    (source, bin) keys in the range join (see SURVEY.md §4.3); explicit
    salting (functions.grid.salted_repartition) is the second.
    """
    # Pandas-UDF closures reference this package by module name; Python
    # worker processes unpickle them and need the package importable.
    # Local mode: workers inherit the driver env, so exporting
    # PYTHONPATH before the JVM starts suffices. Cluster mode: ship the
    # package with spark-submit --py-files (see jobs/run_tiers.py).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    extra_conf = dict(extra_conf or {})
    # Allocation-heavy operators (explode(sequence(...)) in the rollup
    # and bin-join paths) churn short-lived arrays; measured locally,
    # ParallelGC with a large young gen cuts their steady-state wall
    # clock ~2.5x vs default G1. Executor JVMs on a real cluster take
    # the same flags via spark.executor.extraJavaOptions.
    extra_conf.setdefault(
        "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
    )
    # no Python call-site capture per DataFrame/Column call (see above)
    extra_conf.setdefault("spark.python.sql.dataFrameDebugging.enabled", "false")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or _half_host_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
