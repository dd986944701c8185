"""SparkSession factory.

One place to encode the scale posture: AQE (runtime re-planning, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity with
DuckDB), Arrow for any pandas exchange, and shuffle partitions sized to the
environment rather than Spark's default 200.

On a real cluster the same builder applies — only master/memory change; the
SQL-level configs here are cluster-safe defaults.

Driver-side build cost: ``spark.python.sql.dataFrameDebugging.enabled``
is pinned to ``false``. With it on, PySpark wraps every ``Column`` and
``functions`` call in a call-site capture (a session lookup, a JVM class
lookup, a conf read, a Python stack walk, a set and a clear of the JVM's
current origin: about five py4j round trips per call), and building one
registry query's plan makes thousands of such calls. The price is that
analysis errors no longer carry the Python call site
(``DataFrameQueryContext``). To get it back while debugging, start a
fresh process with
``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"})``:
the conf is static, and PySpark caches its value process-wide on first
use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """Cores of the ``local[N]`` master: ``SPARK_GRAFT_CPUS`` when set,
    else the CPUs this process may run on (its affinity mask, which a
    container or ``taskset`` narrows below the host's count)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity call on this platform (macOS)
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "breweries_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

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
        .config("spark.ui.enabled", "false")
        # Progress bars write \r-frames to stdout; any harness that
        # captures/parses stdout (bench driver) must see clean lines.
        .config("spark.ui.showConsoleProgress", "false")
        # Files: keep split sizes sane for both 60k-row test parquet and
        # multi-GB production parquet.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast small dimension tables aggressively (region/nation/
        # supplier-class dims stay far under this at any SF we run).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Pinned, not defaulted: the prefix-count primitive persists its
        # bucket-repartitioned relation so both (b)-keyed consumers read
        # the cache without an Exchange. That plan shape holds only while
        # cached plans keep their output partitioning.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
        # Static: no per-call Python call-site capture (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
