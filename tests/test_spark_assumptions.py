"""Spark behaviour the engine's design relies on, pinned by name, so
that a Spark upgrade which changes it fails here instead of showing up
later as a slower, leakier or wrongly partitioned kernel."""

import pytest
from pyspark.sql import functions as F

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
