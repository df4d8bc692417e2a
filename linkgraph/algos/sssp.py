"""Weighted single-source shortest paths (distributed Bellman-Ford /
min-plus propagation) over an integer-weighted undirected edge list —
the weighted companion to ``algos/bfs.py``.

cost(v) = min over paths Σ edge-weight (edge weight used directly as
traversal cost; weights are positive integers here — the co-action
counts of ``graph.weighted_edges_from_events`` — so every arithmetic
step is exact and the unrolled SQL oracle matches bit-for-bit at a
fixed round count).

The rounds are ``algos/bfs._relax`` steps on
``linkgraph.iterate.iterate``, the relaxation BFS runs, with each
dart's weight as its step: one join of the frontier (vertices whose
cost improved last round) to the weighted darts, one partial-aggregated
min, one fold into the ``(vid, cost, fresh)`` state, one checkpoint.
The same delta argument as unweighted BFS holds: min-plus is monotone,
so a vertex that didn't improve re-generates only candidate costs that
already lost an earlier fold. Unlike BFS, a vertex can improve more
than once (a longer-hop cheaper path arriving later re-enters the
frontier) — exactly Bellman-Ford's relaxation order, still
|frontier|-bound per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sssp_weighted(
    wedges: DataFrame,
    sources: list[int],
    fixed_iterations: int = 8,
) -> DataFrame:
    """Returns ``DataFrame[vid: long, cost: long]`` — the cheapest
    path cost from the nearest source (multi-source fold, exact
    integer min) for every vertex reached within the round budget."""
    from linkgraph.algos.bfs import _relax

    darts = wedges.select("src", "dst", "weight").unionAll(
        wedges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    start = wedges.sparkSession.createDataFrame(
        [(s, 0) for s in sorted({int(s) for s in sources})], "vid long, cost long"
    )
    return _relax(darts, start, ("vid",), "cost", fixed_iterations, weight="weight")
