"""RollingCheckpoint: blocks of old generations are actually freed
(the bug class: DataFrame.rdd.unpersist() is a no-op on a derived RDD
— the JVM-side checkpointed RDD must be unpersisted), while the
immediately-previous generation stays live for convergence joins."""

from pyspark import StorageLevel
from pyspark.sql import functions as F

from linkgraph.rolling import RollingCheckpoint


def _n_persistent(spark) -> int:
    return len(list(spark.sparkContext._jsc.getPersistentRDDs().keySet()))


def test_rolling_checkpoint_frees_old_generations(spark):
    base = _n_persistent(spark)
    roll = RollingCheckpoint()
    df = spark.range(100).select(
        F.col("id").alias("vid"), F.lit(1.0).alias("rank")
    )
    prev = None
    for _ in range(6):
        new = roll(df.select("vid", (F.col("rank") + 1).alias("rank")))
        if prev is not None:
            # the parent generation must remain joinable after rolling
            assert new.join(prev, "vid").count() == 100
        prev = df if prev is None else new
        df = new
    # at most parent + current are pinned; everything older is freed
    assert _n_persistent(spark) - base <= 2


def test_rolling_checkpoint_values_survive(spark):
    roll = RollingCheckpoint()
    df = spark.range(10).select(F.col("id").alias("v"))
    for _ in range(4):
        df = roll(df.select((F.col("v") + 1).alias("v")))
    assert df.agg(F.sum("v")).first()[0] == sum(range(10)) + 40


def test_kernels_keep_a_callers_equal_plan_cache(spark, tmp_path):
    """A kernel borrows a ``(src, dst)`` (or, weighted, ``(src, dst,
    weight)``) projection its caller cached and frees nothing of it:
    releasing a cache drops every entry with an equal plan, the
    caller's included. The edge table has a column more, so its own
    plan is not the cached one."""
    from linkgraph.algos.cc import connected_components
    from linkgraph.algos.lpa import label_propagation
    from linkgraph.algos.pagerank import (
        pagerank,
        pagerank_personalized,
        pagerank_weighted,
    )
    from linkgraph.pregel import (
        CheckpointManager,
        cc_checkpointed,
        lpa_checkpointed,
        pagerank_checkpointed,
    )
    from linkgraph.synth import graph_edges

    e = spark.createDataFrame(
        [(s, t, 1, 0) for s, t in graph_edges("powerlaw_ba", n=60, m=2, seed=3)],
        "src long, dst long, weight long, pad long",
    )
    mine = e.select("src", "dst").cache()
    mine.count()
    mine_w = e.select("src", "dst", "weight").cache()
    mine_w.count()

    def ckpt(name):
        return CheckpointManager(spark, str(tmp_path), name)

    runs = {
        "pagerank": lambda: pagerank(e, iterations=2),
        "pagerank_weighted": lambda: pagerank_weighted(e, iterations=2),
        "pagerank_personalized": lambda: pagerank_personalized(e, [1], iterations=2),
        "connected_components": lambda: connected_components(e),
        "label_propagation": lambda: label_propagation(e, iterations=1),
        "pagerank_checkpointed": lambda: pagerank_checkpointed(
            spark, e, ckpt("pr"), iterations=2
        ),
        "cc_checkpointed": lambda: cc_checkpointed(spark, e, ckpt("cc")),
        "lpa_checkpointed": lambda: lpa_checkpointed(
            spark, e, ckpt("lpa"), iterations=1
        ),
    }
    try:
        for name, run in runs.items():
            assert run().count() == 60, name
            assert e.select("src", "dst").storageLevel != StorageLevel.NONE, name
            assert (
                e.select("src", "dst", "weight").storageLevel != StorageLevel.NONE
            ), name
    finally:
        mine.unpersist()
        mine_w.unpersist()


# Modules whose superstep loops are still hand-rolled, each with its own
# RollingCheckpoint; every other loop runs in linkgraph/iterate.py. The
# list shrinks as loops move onto iterate.
HAND_ROLLED = {
    "algos/hits.py",
    "algos/mis.py",
    "algos/scc.py",
    "partition/hdrf.py",
    "partition/ne.py",
    "pipeline/similarity.py",
}


def test_rolling_checkpoint_built_only_by_the_loop():
    """``RollingCheckpoint`` is constructed only in ``iterate.py`` and in
    the modules listed in HAND_ROLLED, and each listed module still
    constructs one (a ported module leaves the list)."""
    import ast
    from pathlib import Path

    import linkgraph

    root = Path(linkgraph.__file__).parent
    builders = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "RollingCheckpoint":
                    builders.add(path.relative_to(root).as_posix())
    extra = builders - HAND_ROLLED - {"iterate.py"}
    assert not extra, sorted(extra)
    assert HAND_ROLLED <= builders, sorted(HAND_ROLLED - builders)
