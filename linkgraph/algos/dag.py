"""Bounded-depth topological layering over the degree-free orientation
DAG.

The co-occurrence edge table is emitted with ``src < dst``
(linkgraph.extract — mirroring the reference's canonical edge form,
graphs/graph.cpp edge normalization), so the directed view of that
table is acyclic by construction. ``topo_levels`` assigns each vertex
the length of the longest path that ends at it using at most
``max_depth`` edges — the classic dependency-layering pass a build
system or repo-import analyzer runs over a source-code link graph
("how deep is this file in the include chain"), bounded so a single
pathological chain can't run the job forever.

Level is monotone non-decreasing across rounds and each round relaxes
every edge once (Bellman-Ford style), so round k discovers exactly the
paths of length k: propagating only the vertices whose level IMPROVED
last round (frontier delta) is complete, and the fixed round count
makes the result bit-equal to the unrolled cumulative-max SQL oracle.
The rounds are ``algos/bfs._relax`` steps on
``linkgraph.iterate.iterate`` — BFS's relaxation over the directed
darts with a max fold, from every vertex at level 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def topo_levels(edges: DataFrame, max_depth: int = 6) -> DataFrame:
    """DataFrame[vid, level] — longest-path-to-vertex length, capped at
    ``max_depth`` edges. ``edges`` must be the canonical ``src < dst``
    co-occurrence table (a DAG under the natural orientation).

    Scale shape: per round one co-partitioned frontier-to-edges join +
    a MAX aggregate (map-side partial combine collapses hub fan-in
    before the shuffle) + the fold into the level table. The frontier
    only ever shrinks relative to the improved set, and rounds are
    fixed — no driver-side graph state, no convergence actions.
    """
    from linkgraph.algos.bfs import _relax
    from linkgraph.graph import vertices

    start = vertices(edges).withColumn("level", F.lit(0).cast("long"))
    darts = edges.select("src", "dst")
    return _relax(darts, start, ("vid",), "level", max_depth, longest=True)
