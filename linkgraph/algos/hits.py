"""HITS (hubs & authorities) over the directed order-sequence graph.

The reference's analytics suite runs PageRank-family kernels over its
partitioned graphs (``NE_result``/``algorithms/`` — PageRank, CC, LPA);
HITS is the directed-companion centrality the same substrate supports:
auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each vector
L1-normalized per half-step (Kleinberg's iteration with sum
normalization — scale-free and portable: every step is a join + a
partial-aggregated sum, the exact superstep budget of PageRank).

Execution shape per iteration (the scale-critical part):
- ``edges ⋈ hub`` on src then ``groupBy(dst).sum`` — map-side partial
  aggregation collapses a 10^8-in-degree authority to one partial sum
  per task before the shuffle (same shape for the hub half on dst).
- the normalizer is a 1-row aggregate over the *checkpointed* raw
  vector (O(1) to the driver, never a wide plan reference).
- both vectors roll through localCheckpoint every iteration: each raw
  vector is referenced twice (normalizer + normalized projection), and
  uncheckpointed double-references double per round.

Vertices with no in-edges have auth 0 (resp. no out-edges → hub 0);
they never contribute to either update, so the loop iterates over the
aggregate supports only and the zero rows are restored by one final
left join against the vertex set.

Storage: that final join is returned as a ``localCheckpoint``, the one
stored RDD a call leaves (freed with ``rolling.release``). The input's
``(src, dst)`` projection is cached for the call only when the caller
has not cached it (``linkgraph.rolling._scanned``); it, the two
join-ready edge views, the vertex set and both vectors' rolled
generations are released on return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """Returns ``DataFrame[vid: long, auth: double, hub: double]`` for
    every vertex of the directed graph ``edges[src, dst]``, L1
    normalization (Σ auth = Σ hub = 1 over the support). Raises
    ``ValueError`` unless ``iterations`` ≥ 1."""
    from pyspark.sql import Observation

    from linkgraph.graph import join_ready
    from linkgraph.rolling import RollingCheckpoint, _scanned, release

    if iterations < 1:
        # no half-step has run, so there is no authority vector to join
        raise ValueError("hits needs at least one iteration")
    de, cached = _scanned(edges, "src", "dst")
    # the auth half-step joins on src, the hub half-step on dst — two
    # join-ready cached views so neither half-step re-shuffles the
    # edge side per iteration (guide §2.4)
    de_src = join_ready(de, "src").cache()
    de_dst = join_ready(de, "dst").cache()
    verts = (
        de.select(F.col("src").alias("vid"))
        .unionByName(de.select(F.col("dst").alias("vid")))
        .distinct()
        .cache()
    )
    roll_a = RollingCheckpoint()
    roll_h = RollingCheckpoint()
    try:
        # hub_0 = 1 on the out-support (only hubs of edge sources are
        # ever read by the auth update)
        hub = de.select(F.col("src").alias("vid")).distinct().withColumn(
            "hub", F.lit(1.0)
        )
        auth = None
        for _ in range(iterations):
            # L1 normalizers ride the checkpoint as Observations (the
            # scc.py pattern) — two fewer .first() jobs per iteration
            obs_a = Observation()
            raw_a = roll_a(
                de_src.join(hub, de_src["src"] == hub["vid"])
                .groupBy("dst")
                .agg(F.sum("hub").alias("auth"))
                .withColumnRenamed("dst", "vid")
                .observe(obs_a, F.sum("auth").alias("s"))
            )
            norm_a = obs_a.get["s"]
            auth = raw_a.select("vid", (F.col("auth") / F.lit(norm_a)).alias("auth"))
            obs_h = Observation()
            raw_h = roll_h(
                de_dst.join(auth, de_dst["dst"] == auth["vid"])
                .groupBy("src")
                .agg(F.sum("auth").alias("hub"))
                .withColumnRenamed("src", "vid")
                .observe(obs_h, F.sum("hub").alias("s"))
            )
            norm_h = obs_h.get["s"]
            hub = raw_h.select("vid", (F.col("hub") / F.lit(norm_h)).alias("hub"))
        # computed before the finally frees what it reads
        return (
            verts.join(auth, "vid", "left")
            .join(hub, "vid", "left")
            .select(
                "vid",
                F.coalesce("auth", F.lit(0.0)).alias("auth"),
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
            )
            .localCheckpoint()
        )
    finally:
        roll_a.release()
        roll_h.release()
        release(verts, de_dst, de_src, cached)
