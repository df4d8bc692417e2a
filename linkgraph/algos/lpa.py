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
distinct. Later rounds join ``sym ⋈ labels`` on src. The rounds run in
``linkgraph.iterate.iterate``: rolled checkpoints here, a durable
snapshot per round in ``pregel.lpa_checkpointed``, whose superstep 1 is
the same identity round.

Weighted LPA runs the same rounds; a label's vote is its summed
incident edge weight instead of its count.

Storage: the edge side is the input's ``(src, dst)`` (weighted: ``(src,
dst, weight)``) projection, symmetrized inline (cached for the call only
when the caller has not cached it; ``linkgraph.rolling._scanned``).
Every rolled generation but the returned one, and any cache the call
made, is released on return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def label_propagation(
    edges: DataFrame, iterations: int = 10, checkpoint_every: int = 3
) -> DataFrame:
    """Returns ``DataFrame[vid: long, label: long]``."""
    return _in_memory(edges, iterations, checkpoint_every)


def label_propagation_weighted(
    wedges: DataFrame, iterations: int = 4, checkpoint_every: int = 1
) -> DataFrame:
    """Weighted label propagation over ``DataFrame[src, dst, weight]``
    (src < dst): each round a vertex adopts the label with the largest
    summed incident edge weight among its neighbors; ties break to the
    minimum label (deterministic — integer weight sums, no float
    order sensitivity). Same rounds as ``label_propagation``, the
    identity round 1 included. Returns ``DataFrame[vid, label]``."""
    return _in_memory(wedges, iterations, checkpoint_every, weighted=True)


def _in_memory(
    edges: DataFrame, iterations: int, every: int, weighted: bool = False
) -> DataFrame:
    """``_propagate`` over the input's projection (module docstring),
    symmetrized; the identity start is read only when no round runs."""
    from linkgraph.graph import vertices
    from linkgraph.rolling import _scanned, release

    carry = ("weight",) if weighted else ()
    source, cached = _scanned(edges, "src", "dst", *carry)
    try:
        sym = source.unionByName(
            source.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *carry)
        )
        start = vertices(source).withColumn("label", F.col("vid"))
        return _propagate(sym, start, iterations, every, carry)
    finally:
        release(cached)


def _adopt(counts: DataFrame) -> DataFrame:
    """Each vertex's label with the largest ``cnt`` over ``(vid, label,
    cnt)``, ties to the minimum label."""
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vid", "label")
    )


def _propagate(
    sym: DataFrame, start: DataFrame, iterations: int, every: int,
    carry: tuple[str, ...] = (), **durable,
) -> DataFrame:
    """``iterate`` LPA rounds over ``sym`` from the identity labels
    ``start``; ``carry=("weight",)`` votes with the summed weight instead
    of the count. ``durable`` is the loop's sink arguments."""
    from linkgraph.iterate import iterate

    vote = F.sum("weight").cast("long") if carry else F.count("*")

    def step(labels: DataFrame, s: int, _) -> DataFrame:
        if s == 1:
            votes = sym.select(
                F.col("dst").alias("vid"), F.col("src").alias("label"), *carry
            )
        else:
            votes = sym.join(labels, sym["src"] == labels["vid"]).select(
                F.col("dst").alias("vid"), "label", *carry
            )
        return _adopt(votes.groupBy("vid", "label").agg(vote.alias("cnt")))

    return iterate(start, step, iterations, every, **durable).select("vid", "label")
