"""Synchronous label propagation (community detection), deterministic.

Each round every vertex adopts the most frequent label among its
neighbors; ties break to the *minimum* label (deterministic under any
execution order — required for oracle-exact parity, SURVEY.md §2.5).
Fixed iteration count (synchronous LPA need not converge; oscillation
is expected on bipartite-ish structures, so determinism comes from the
fixed round count).

Execution per round: (1) neighbor-label count — groupBy(vid, label)
with map-side partial aggregation (hub-degree skew collapses per task);
(2) argmax per vertex via a window over the *aggregated* counts (group
size ≤ #distinct neighbor labels, not degree). Every label starts as
the vertex id, so round 1's neighbor labels are the darts' sources:
it counts ``sym.groupBy(dst, src)`` with no join and no vertex
distinct. Later rounds join ``sym ⋈ labels`` on src.

Storage: the edge side is the input's ``(src, dst)`` projection,
symmetrized inline (cached for the call only when the caller has not
cached it; ``linkgraph.rolling._scanned``). Every rolled generation but
the returned one, and any cache the call made, is released on return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def label_propagation(
    edges: DataFrame, iterations: int = 10, checkpoint_every: int = 3
) -> DataFrame:
    """Returns ``DataFrame[vid: long, label: long]``."""
    from linkgraph.graph import symmetrize, vertices
    from linkgraph.rolling import RollingCheckpoint, _scanned, release

    source, cached = _scanned(edges, "src", "dst")
    sym = symmetrize(source)
    roll = RollingCheckpoint()
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))
    out = None
    try:
        labels = None  # the identity start, never materialized
        if iterations == 0:
            labels = roll(vertices(source).withColumn("label", F.col("vid")))
        for i in range(iterations):
            if labels is None:
                votes = sym.select(
                    F.col("dst").alias("vid"), F.col("src").alias("label")
                )
            else:
                votes = sym.join(labels, sym["src"] == labels["vid"]).select(
                    F.col("dst").alias("vid"), "label"
                )
            counts = votes.groupBy("vid", "label").agg(F.count("*").alias("cnt"))
            new_labels = (
                counts.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("vid", "label")
            )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                new_labels = roll(new_labels)
            labels = new_labels
        out = labels
    finally:
        roll.release(keep=out)
        release(cached)
    return out.select("vid", "label")


def label_propagation_weighted(
    wedges: DataFrame, iterations: int = 4, checkpoint_every: int = 1
) -> DataFrame:
    """Weighted label propagation over ``DataFrame[src, dst, weight]``
    (src < dst): each round a vertex adopts the label with the largest
    summed incident edge weight among its neighbors; ties break to the
    minimum label (deterministic — integer weight sums, no float
    order sensitivity). Same execution shape as the unweighted LPA:
    partial-aggregated (vid, label) weight sums, then an argmax window
    over the aggregated counts (group size ≤ #distinct neighbor
    labels). Its edge cache and every rolled generation but the
    returned one are released on return. Returns
    ``DataFrame[vid, label]``."""
    from linkgraph.graph import join_ready
    from linkgraph.rolling import RollingCheckpoint, release

    roll = RollingCheckpoint()
    sym = join_ready(
        wedges.select("src", "dst", "weight").unionByName(
            wedges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        ),
        "src",
    ).cache()
    labels = (
        sym.select(F.col("src").alias("vid"))
        .distinct()
        .withColumn("label", F.col("vid"))
    )
    w = Window.partitionBy("vid").orderBy(F.desc("wsum"), F.asc("label"))
    out = None
    try:
        if iterations == 0:
            labels = roll(labels)  # outlive the released edge cache
        for i in range(iterations):
            votes = (
                sym.join(labels, sym["src"] == labels["vid"])
                .select(F.col("dst").alias("vid"), "label", "weight")
                .groupBy("vid", "label")
                .agg(F.sum("weight").cast("long").alias("wsum"))
            )
            new_labels = (
                votes.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("vid", "label")
            )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                new_labels = roll(new_labels)
            labels = new_labels
        out = labels
    finally:
        roll.release(keep=out)
        release(sym)
    return out.select("vid", "label")
