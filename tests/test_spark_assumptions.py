"""Spark behaviour the engine's design relies on, pinned by name, so
that a Spark upgrade which changes it fails here instead of showing up
later as a slower, leakier or wrongly partitioned kernel."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from linkgraph import pyworker
from linkgraph.rolling import release

ROWS = [(i % 5, i) for i in range(40)]


def _reused_exchanges(src) -> int:
    """ReusedExchange nodes in the executed plan of an aggregate joined
    with a projection of itself."""
    agg = src.groupBy("k").agg(F.count("*").alias("n"))
    joined = agg.join(agg.select("k", F.col("n").alias("n2")), "k")
    joined.collect()
    executed = joined._jdf.queryExecution().executedPlan().toString()
    return executed.count("ReusedExchange")


def test_exchange_reuse_needs_a_checkpointed_source(spark):
    """Over a cache()d source both sides of a self-joined aggregate run
    their own shuffle stage; over a localCheckpoint the second side
    reuses the first. The triangle family checkpoints its adjacency for
    exactly this reason."""
    redo = (
        "a Spark upgrade changed exchange reuse: re-measure the triangle "
        "family's adjacency checkpoint (linkgraph/algos/triangles.py) and "
        "the exchange-reuse claims in OPTIMIZATION_r06.md §5"
    )
    cached = spark.createDataFrame(ROWS, "k long, v long").cache()
    try:
        assert _reused_exchanges(cached) == 0, f"cached source reuses: {redo}"
    finally:
        cached.unpersist()
    ck = spark.createDataFrame(ROWS, "k long, v long").localCheckpoint()
    try:
        assert _reused_exchanges(ck) == 1, f"checkpointed source does not reuse: {redo}"
    finally:
        release(ck)


def test_column_building_sends_no_call_site_commands(spark, monkeypatch):
    """Building a Column sends only the py4j commands that build it: 9
    for one load sum of the chunked partitioner. With PySpark's call-site
    capture on, every Column and ``functions`` call also walks the Python
    stack and sends two more commands, 49 in all."""
    import py4j.clientserver

    sent = []
    stock = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return stock(self, command)

    F.col("p")  # the first call may read the setting: not counted
    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    F.sum((F.col("p") == 3).cast("long")).alias("l3")
    monkeypatch.undo()
    assert len(sent) <= 12, (
        f"building one load sum sent {len(sent)} py4j commands (9 expected): "
        "PySpark's call-site capture (_with_origin in pyspark/errors/utils.py) "
        "is back on; check that linkgraph/session.py's LAUNCH_CONF setting "
        "spark.python.sql.dataFrameDebugging.enabled=false still reaches it"
    )


def test_codegen_cache_outlives_a_pass(spark):
    """A plan run again after more than 100 other distinct plans
    compiles nothing: Spark's LRU cache of compiled operator classes
    holds more than one pass of the engine's working set. Each plan
    below compiles classes of its own, as its literal is inlined into
    the generated code."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i: int) -> None:
        plan = spark.range(0, 2, 1, 1).select(F.col("id") + F.lit(i))
        plan.write.format("noop").mode("overwrite").save()

    for i in range(150):
        run(i)
    compiled = metric.getCount()
    for i in range(10):
        run(i)
    assert metric.getCount() == compiled, (
        f"re-running 10 plans compiled {metric.getCount() - compiled} classes: "
        "Spark's CodeGenerator cache evicted them, so a warm pass recompiles "
        "its whole plan set. Check that linkgraph/session.py's LAUNCH_CONF "
        "setting spark.sql.codegen.cache.maxEntries still reaches the JVM; "
        "CodeGenerator reads it once per JVM, on its first codegen, so it "
        "must be set when the session is built"
    )


def test_murmur3_replica_checked_once_without_a_job(spark, monkeypatch):
    """The HDRF spread labels trust a Python Murmur3 replica; the check
    against Spark's hash runs on first use per SparkContext, launches no
    job, is memoized, and fails loudly when the replica is wrong."""
    from linkgraph.partition import hdrf

    monkeypatch.setattr(hdrf, "_murmur3_checked", set())
    sc = spark.sparkContext
    sc.setJobGroup("murmur3-check", "murmur3 replica check")
    try:
        hdrf._check_murmur3_replica(spark)
        hdrf._check_murmur3_replica(spark)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("murmur3-check") == []
    assert hdrf._murmur3_checked == {sc.applicationId}

    monkeypatch.setattr(hdrf, "_murmur3_checked", set())
    monkeypatch.setattr(hdrf, "_murmur3_long", lambda v, seed=42: v)
    with pytest.raises(AssertionError, match="no longer matches"):
        hdrf._check_murmur3_replica(spark)
    assert hdrf._murmur3_checked == set()


# what a failed pyworker assumption means
PYWORKER_MOOT = (
    "tasks no longer re-read every zip archive on the worker path (PySpark "
    "stopped calling importlib.invalidate_caches() per task, or CPython "
    "made zipimporter.invalidate_caches lazy): delete linkgraph/pyworker.py "
    "and its spark.python.daemon.module setting in linkgraph/session.py"
)


def test_worker_skips_rereading_unchanged_zips(spark):
    """Every Python task invalidates the import caches, which on CPython
    3.11 re-reads each zip archive on the worker path; under
    ``linkgraph.pyworker`` a reused worker's next task skips every
    unchanged archive and re-reads none."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "linkgraph.pyworker"

    def counts(rows):
        import os

        from linkgraph import pyworker

        for _ in rows:  # a worker that leaves input unread is not reused
            pass
        yield os.getpid(), pyworker.rereads, pyworker.skips

    # one-task jobs until a worker runs a second one; idle workers are
    # handed out in turn, so that takes one job more than are idle
    seen = {}
    for _ in range(16):
        pid, rereads, skips = sc.parallelize([0], 1).mapPartitions(counts).collect()[0]
        if pid in seen:
            break
        seen[pid] = rereads, skips
    else:
        pytest.fail("no Python worker was reused across 16 one-task jobs")
    first_rereads, first_skips = seen[pid]
    assert rereads == first_rereads, (
        "a task re-read an unchanged zip archive: linkgraph/pyworker.py "
        "no longer skips it"
    )
    assert skips > first_skips, PYWORKER_MOOT


def test_pyworker_rereads_a_changed_zip(tmp_path, monkeypatch):
    """A rewritten archive is re-read: after ``importlib.invalidate_caches()``
    a module imported from it again gets the new contents. The stock
    invalidation reads the archive's directory eagerly, which is the
    cost ``linkgraph.pyworker`` skips."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    for name, value in (("_read", {}), ("rereads", 0), ("skips", 0)):
        monkeypatch.setattr(pyworker, name, value)
    archive = tmp_path / "probe.zip"

    def write(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("lg_zip_probe.py", body)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("lg_zip_probe").VALUE == 1

        importlib.invalidate_caches()  # reads each archive once, stamping it
        rereads, skips = pyworker.rereads, pyworker.skips
        importlib.invalidate_caches()
        assert pyworker.rereads == rereads and pyworker.skips > skips

        write("VALUE = 2  # a longer file, so the archive's size changes\n")
        importlib.invalidate_caches()
        assert pyworker.rereads == rereads + 1
        del sys.modules["lg_zip_probe"]
        assert importlib.import_module("lg_zip_probe").VALUE == 2
    finally:
        sys.modules.pop("lg_zip_probe", None)

    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or stock_read(path)
    )
    pyworker._stock_invalidate(sys.path_importer_cache[str(archive)])
    assert reads == [str(archive)], PYWORKER_MOOT
