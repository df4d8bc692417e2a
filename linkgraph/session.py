"""SparkSession factory tuned for the link-graph engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per-executor (AQE on, Arrow on, shuffle partitions ~ cores); on a
real cluster the same builder is used with ``--master yarn|k8s`` and
``spark.sql.shuffle.partitions`` sized to total cores via spark-submit
conf, so nothing here is local-only. The one local-only setting, the
Python worker daemon (``linkgraph.pyworker``), is left out elsewhere.

``LAUNCH_CONF`` holds the settings every launch path sets, this
factory and ``jobs/run_job.py`` alike.
"""

from __future__ import annotations

import os
import site
from pathlib import Path

from pyspark.sql import SparkSession

# The default driver heap is this share of the memory the process may
# use, capped. In local mode the executors share the driver's heap, and
# the JVM adds metaspace, code cache and off-heap buffers on top of it.
DRIVER_MEMORY_FRACTION = 0.3
DRIVER_MEMORY_CAP_MB = 48 * 1024
# Settings both launch paths pass to ``SparkSession.builder``.
#
# spark.python.sql.dataFrameDebugging.enabled=false turns off PySpark's
# call-site capture (``_with_origin`` in pyspark/errors/utils.py). With it
# on, every Column and ``functions`` call looks up the active session,
# reads a conf, walks the Python stack and sends two py4j commands to set
# and clear ``PySparkCurrentOrigin``: 0.41-0.52 ms per ``F.col``, ``==``,
# ``.cast`` or ``.alias`` call against 0.06-0.16 ms without (local[1]),
# and 49 py4j commands instead of 9 to build one
# ``F.sum((F.col(p) == c).cast("long")).alias(..)``. The driver of an
# operator that builds many expressions (the k load sums of a chunked
# partitioner) spends a large share of its time there. The one thing lost: a
# DataFrame error's query context no longer names the Python file and
# line that built the failing expression. PySpark reads the setting once
# per process, the first time an API call asks for it.
#
# spark.sql.codegen.cache.maxEntries=1000 sizes the JVM-wide LRU cache of
# compiled operator classes (``CodeGenerator.cache``), 100 by default.
# One warm pass of the benchmark's repo_pipeline generates 194 distinct
# classes and one of dense_kernels 139-152, so at 100 every class is
# evicted before the next pass asks for it again and every pass
# Janino-compiles all of them anew (about 3 ms each with a C1-only JIT,
# 20% of a warm pass's wall time). At 1000 a warm pass compiles none;
# the tier-1 suite compiles 5.7k classes instead of 14.1k. An entry
# holds about 35 KB of heap (162.6 -> 169.2 MB after GC with ~200
# held), so a full cache costs at most ~35 MB. Only a process that runs
# the same plans more than once gains: a long-lived session, a pipeline
# re-run; a one-call spark-submit or a cold first pass compiles as much
# as before. It is a static SQL conf, and CodeGenerator reads it once per
# JVM, on the first codegen: it takes effect only when set as the
# session is built, before any query has run.
LAUNCH_CONF = {
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "1000",
}
CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2; "max" when unlimited
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def memory_budget_mb(
    meminfo: str = "/proc/meminfo", cgroup_limits: tuple[str, ...] = CGROUP_LIMITS
) -> int | None:
    """The memory this process may use, in MB: the host's ``MemTotal``,
    lowered to its cgroup's limit when one is set. ``None`` when neither
    can be read (a host without ``/proc``). Only reads files."""
    budget = None
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    budget = int(line.split()[1]) // 1024  # kB
                    break
    except OSError:
        pass
    for path in cgroup_limits:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = int(raw) // (1024 * 1024)
            budget = limit if budget is None else min(budget, limit)
    return budget


def default_driver_memory(budget_mb: int | None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    ``DRIVER_MEMORY_FRACTION`` of ``budget_mb``, at most
    ``DRIVER_MEMORY_CAP_MB`` (also the value when the budget is
    unknown)."""
    if budget_mb is None:
        return f"{DRIVER_MEMORY_CAP_MB}m"
    return f"{min(DRIVER_MEMORY_CAP_MB, int(budget_mb * DRIVER_MEMORY_FRACTION))}m"


def _pyworker_conf(master: str) -> dict[str, str]:
    """Run the Python workers under ``linkgraph.pyworker``, which skips
    PySpark's per-task re-read of every zip archive on the worker path,
    when the daemon will be able to import it: a local master (its
    workers inherit this process's working directory and environment)
    and ``linkgraph`` found from the working directory, ``PYTHONPATH``
    or site-packages. Elsewhere (a cluster, linkgraph shipped with
    ``--py-files``) PySpark's own daemon stays."""
    if not master.startswith("local"):
        return {}
    root = Path(__file__).resolve().parent.parent
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if any(d and Path(d).resolve() == root for d in dirs + site.getsitepackages()):
        return {"spark.python.daemon.module": "linkgraph.pyworker"}
    return {}


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
    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEMORY``, else sized from
    the memory this process may use (``default_driver_memory``).
    Python workers run under ``linkgraph.pyworker`` where it can be
    imported (``_pyworker_conf``). ``LAUNCH_CONF`` turns PySpark's
    per-call call-site capture off, so DataFrame error messages carry no
    Python file:line (``extra_conf`` may set it back to ``"true"``), and
    sizes Spark's compiled-code cache to 1000 classes.
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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(memory_budget_mb()),
        )
        .config("spark.ui.enabled", "false")
        # Iterative jobs re-checkpoint per superstep; keep lineage short.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    conf = {**LAUNCH_CONF, **_pyworker_conf(master), **(extra_conf or {})}
    spark = builder.config(map=conf).getOrCreate()
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
