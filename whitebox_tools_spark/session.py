"""SparkSession factory tuned for the engine.

Local mode is the test/bench harness (local[N], one JVM); the same confs are
what we would submit with ``spark-submit --py-files`` on a real cluster —
AQE on (runtime skew-join + partition coalescing), Arrow on (all geometry
kernels are pandas UDFs), shuffle partitions sized to cores not the 200
default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "whitebox_tools_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(cores, 8) — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces the excess at runtime.

    DataFrame debugging is off (spark.python.sql.dataFrameDebugging.enabled):
    with it on, PySpark wraps every Column function to walk the Python stack
    and record the call site over ~10 extra py4j round trips, which more than
    doubles the cost of building an operator's plan in Python. The price is that
    a DataFrame error's query context no longer names the Python call site;
    pass extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}
    to get it back while debugging.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # Pin the heap (-Xms == -Xmx, pre-touched) and use ParallelGC: G1's
    # periodic heap uncommit causes mmap/madvise storms on microVM kernels
    # (observed: 80%+ system time and 5-20x slowdowns at 32 threads until
    # the heap was pinned; see BENCH/BASELINE.md).
    java_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(ncores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # IEEE float semantics (inf/nan propagate) + wrapping integer hashes:
        # matches the reference engine's arithmetic model and DuckDB's
        # non-erroring float division; ANSI would raise on 1/d at d=0 paths
        # the operators guard explicitly.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
