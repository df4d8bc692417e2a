"""k-truss decomposition (edge-support peeling) — the cohesive-
subgraph companion to k-core (``algos/kcore.py``): the k-truss is the
maximal subgraph where every edge closes at least k-2 triangles
*within the subgraph*. Computed by the standard peel: per round,
count each edge's triangle support over the surviving edge set and
drop edges below k-2; supports only shrink, so the fixpoint is
reached once a round removes nothing and a fixed round count ≥ the
peel depth is exact (same argument as the k-core driver gate).

Scale shape per round: one degree-oriented adjacency over the
surviving edge set, checkpointed (``triangles._adjacency_rows`` — wedge
fan-out bounded by oriented out-degree, O(√m) even on power-law
graphs); one per-edge ``common`` row per base edge, turned into its
three support pairs by a single ``inline`` and a partial-aggregated
count; one join back to the edge set. The peel is the step of
``linkgraph.iterate.iterate``: the round's adjacency is the step's
``cut`` and the survivors are the loop's checkpoint, and both are
released like any rolled generation. In convergence mode the survivor
count rides that checkpoint as the loop's watch; the loop stops at the
first round that leaves it unchanged (as in ``algos/kcore.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _support(adj: DataFrame) -> DataFrame:
    """Triangle support per canonical edge over a checkpointed oriented
    adjacency → ``DataFrame[src, dst, supp]``: a base edge (a, b) with
    common out-neighbors C gives |C| to (a, b) and 1 to each (a, c)
    and (b, c), c ∈ C — the three edges of each of its triangles."""
    from linkgraph.algos.triangles import _edge_common

    def pair(u, v, s):
        return F.struct(
            F.least(u, v).alias("src"), F.greatest(u, v).alias("dst"), s.alias("s")
        )

    a, b = F.col("a"), F.col("b")
    pairs = (
        _edge_common(adj)
        .where(F.size("common") > 0)
        .select(
            F.inline(
                F.concat(
                    F.array(pair(a, b, F.size("common"))),
                    F.flatten(
                        F.transform(
                            "common",
                            lambda c: F.array(
                                pair(a, c, F.lit(1)), pair(b, c, F.lit(1))
                            ),
                        )
                    ),
                )
            )
        )
    )
    return pairs.groupBy("src", "dst").agg(F.sum("s").cast("long").alias("supp"))


def edge_support(edges: DataFrame) -> DataFrame:
    """Triangle support per canonical edge →
    ``DataFrame[src, dst, supp]`` (edges in no triangle absent),
    checkpointed."""
    from linkgraph.algos.triangles import _adjacency

    with _adjacency(edges) as adj:
        return _support(adj).localCheckpoint()


def k_truss(
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 30,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Edges of the k-truss → ``DataFrame[src, dst]`` (canonical
    src < dst). ``fixed_rounds`` runs exactly that many peel rounds
    (driver-gate mode — exact once ≥ the peel depth); otherwise peels
    until a round removes no edge. Every rolled generation but the
    returned one is released on return."""
    from linkgraph.algos.triangles import _adjacency_rows
    from linkgraph.iterate import iterate, unchanged

    def peel(e: DataFrame, s: int, cut) -> DataFrame:
        adj = cut(_adjacency_rows(e, degree_oriented=True))
        return (
            e.join(_support(adj), ["src", "dst"])
            .where(F.col("supp") >= k - 2)
            .select("src", "dst")
        )

    converge = fixed_rounds is None
    return iterate(
        edges.select("src", "dst"), peel,
        max_rounds if converge else fixed_rounds,
        watch=[F.count(F.lit(1)).alias("n")] if converge else None,
        until=unchanged("n"),
    )
