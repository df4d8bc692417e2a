"""SparkSession factory tuned for the link-graph engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per-executor (AQE on, Arrow on, shuffle partitions ~ cores); on a
real cluster the same builder is used with ``--master yarn|k8s`` and
``spark.sql.shuffle.partitions`` sized to total cores via spark-submit
conf, so nothing here is local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "linkgraph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — the right
    size for local mode; on a cluster pass total-cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster masters → env cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE minPartitionSize stays at its 1MB default: an A/B at
        # sf0.1 showed 1b (no floor) costs iterative kernels ~2× (32
        # micro-tasks per tiny stage × many stages — scc 13.9→26.5s)
        # while the one thing it fixed (AQE squeezing the k
        # applyInPandas groups of the chunked partitioners into 2-7
        # tasks) is handled locally by the explicit
        # repartition(n, "_task") in _hdrf_chunked, which AQE never
        # coalesces.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Iterative jobs re-checkpoint per superstep; keep lineage short.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Releasing a localCheckpoint (linkgraph.rolling) always logs that
    # the RDD "cannot be recomputed after unpersisting"; that is the
    # intent, and one line per released generation buries real warnings
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
