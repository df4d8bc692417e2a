"""Per-vertex local clustering coefficient.

lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the fraction of a vertex's
neighbor pairs that are themselves linked; 0 for degree < 2. Composes
the degree-oriented triangle enumeration (O(√m) wedge fan-out per
vertex — linkgraph.algos.triangles) with the ingest-time degree table:
one broadcast-sized join on vid beyond the triangle count, nothing
new shuffles. The joined result is computed eagerly inside the
adjacency's ``with`` block and returned as a ``localCheckpoint``, so
it is the one stored RDD the call leaves, freed with
``rolling.release``. Rounded to 6dp to match the DuckDB oracle's float
canonicalization (reference metric family: GraphPartitioners'
partitioner quality stats, e.g. PartitionStat.hpp — this adds the
standard local-density stat next to them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lcc(adj: DataFrame, edges: DataFrame) -> DataFrame:
    """The coefficients over an oriented adjacency of ``edges``, lazy."""
    from linkgraph.algos.triangles import _vertex_counts
    from linkgraph.graph import degrees

    return (
        _vertex_counts(adj)
        .join(degrees(edges), "vid")
        .select(
            "vid",
            "triangles",
            "degree",
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    2.0
                    * F.col("triangles")
                    / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
                    6,
                )
            )
            .alias("lcc"),
        )
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Returns ``DataFrame[vid: long, triangles: long, degree: long,
    lcc: double]`` for every vertex with ≥1 edge, checkpointed."""
    from linkgraph.algos.triangles import _adjacency

    with _adjacency(edges) as adj:
        return _lcc(adj, edges).localCheckpoint()
