"""Landmark-sampled betweenness centrality — distributed Brandes.

Exact betweenness is all-pairs (O(nm) even sequentially); the
standard scalable estimator runs Brandes' two phases from a fixed
landmark/pivot set and reports the partial dependency sums
bc_L(v) = Σ_{s∈L} δ_s(v) (Brandes & Pich's pivot estimator). Both
phases are level-synchronous supersteps of ``linkgraph.iterate.iterate``
over state keyed (lm, vid), so all landmarks advance together — the
same batching as ``bfs.landmark_distances``:

- forward: the state is the visited table ``(lm, vid, dist, sigma)``;
  superstep s discovers the vertices at distance s with
  σ(v) = Σ_{u at dist s-1, u~v} σ(u) — one join of the frontier
  (``dist == s-1``) + one partial-aggregated sum + one anti-join
  against the visited rows, unioned into them;
- backward: the state is ``(lm, vid, delta)`` over the settled forward
  table; walking levels deepest-first, each level-d vertex v sends
  σ(u)/σ(v) · (1 + δ(v)) to its level-(d-1) neighbors u — one
  filter + two joins + one partial-aggregated sum per level.

Path counts and dependencies are exact per landmark (fractions of
integer σ), so the unrolled-CTE oracle matches at 6-decimal rounding.
The loop checkpoints each phase's state every superstep. The result is
returned as a ``localCheckpoint``, the one stored RDD a call leaves;
both phases' states and the cached edge side are released on return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def betweenness_landmark(
    edges: DataFrame,
    landmarks: list[int],
    depth: int = 8,
) -> DataFrame:
    """Returns ``DataFrame[vid, betweenness]`` = Σ over landmarks of
    Brandes' dependency δ_lm(v) (landmarks' own endpoint rows
    excluded, as in Brandes: bc accumulates only for w ≠ s).
    ``depth`` bounds both phases — exact when ≥ the eccentricity of
    every landmark."""
    from linkgraph.graph import join_ready, symmetrize
    from linkgraph.iterate import iterate
    from linkgraph.rolling import release

    # both phases join sym on src every level — join-ready cache (§2.4)
    sym = join_ready(symmetrize(edges), "src").cache()

    def forward(visited: DataFrame, s: int, _) -> DataFrame:
        frontier = visited.where(F.col("dist") == s - 1)
        cand = (
            sym.join(frontier, sym["src"] == frontier["vid"])
            .groupBy("lm", "dst")
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "lm",
                F.col("dst").alias("vid"),
                F.lit(s).cast("long").alias("dist"),
                "sigma",
            )
        )
        return cand.join(
            visited.select("lm", "vid"), ["lm", "vid"], "left_anti"
        ).unionByName(visited)

    def backward(delta: DataFrame, s: int, _) -> DataFrame:
        d = depth + 1 - s
        senders = (
            visited.where(F.col("dist") == d)
            .join(delta, ["lm", "vid"])
            .select(
                "lm",
                F.col("vid").alias("v"),
                F.col("sigma").alias("sigma_v"),
                F.col("delta").alias("delta_v"),
            )
        )
        preds = visited.where(F.col("dist") == d - 1).select(
            "lm", F.col("vid").alias("u"), F.col("sigma").alias("sigma_u")
        )
        contrib = (
            senders.join(sym, senders["v"] == sym["src"])
            .join(preds, (F.col("dst") == F.col("u")) & (senders["lm"] == preds["lm"]))
            .groupBy(senders["lm"].alias("lm"), "u")
            .agg(
                F.sum(
                    (F.col("sigma_u") / F.col("sigma_v"))
                    * (F.lit(1.0) + F.col("delta_v"))
                ).alias("c")
            )
            .withColumnRenamed("u", "vid")
        )
        return delta.join(contrib, ["lm", "vid"], "left").select(
            "lm",
            "vid",
            (F.col("delta") + F.coalesce(F.col("c"), F.lit(0.0))).alias("delta"),
        )

    visited = delta = None
    try:
        visited = iterate(
            edges.sparkSession.createDataFrame(
                [(int(s), int(s), 0, 1.0) for s in landmarks],
                "lm long, vid long, dist long, sigma double",
            ),
            forward, depth,
        )
        delta = iterate(
            visited.select("lm", "vid", F.lit(0.0).alias("delta")), backward, depth
        )
        return (
            delta.join(visited.select("lm", "vid", "dist"), ["lm", "vid"])
            .where(F.col("dist") > 0)
            .groupBy("vid")
            .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
            .localCheckpoint()
        )
    finally:
        release(delta, visited, sym)
