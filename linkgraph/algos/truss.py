"""k-truss decomposition (edge-support peeling) — the cohesive-
subgraph companion to k-core (``algos/kcore.py``): the k-truss is the
maximal subgraph where every edge closes at least k-2 triangles
*within the subgraph*. Computed by the standard peel: per round,
count each edge's triangle support over the surviving edge set and
drop edges below k-2; supports only shrink, so the fixpoint is
reached once a round removes nothing and a fixed round count ≥ the
peel depth is exact (same argument as the k-core driver gate).

Scale shape per round: one degree-oriented adjacency over the
surviving edge set, checkpointed (``triangles._adjacency`` — wedge
fan-out bounded by oriented out-degree, O(√m) even on power-law
graphs); one per-edge ``common`` row per base edge, turned into its
three support pairs by a single ``inline`` and a partial-aggregated
count; one join back to the edge set. The survivors are rolled through
localCheckpoint every round, and the round's adjacency is released
once that roll has run.
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
    until a round removes no edge (one count action per round). Every
    rolled generation but the returned one is released on return."""
    from linkgraph.algos.triangles import _adjacency
    from linkgraph.rolling import RollingCheckpoint

    roll = RollingCheckpoint()
    e = edges.select("src", "dst")
    n_prev = None if fixed_rounds is not None else e.count()
    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    out = None
    try:
        for _ in range(rounds):
            with _adjacency(e) as adj:
                e = roll(
                    e.join(_support(adj), ["src", "dst"])
                    .where(F.col("supp") >= k - 2)
                    .select("src", "dst")
                )
            if fixed_rounds is None:
                n = e.count()
                if n == n_prev:
                    break
                n_prev = n
        out = e
    finally:
        roll.release(keep=out)
    return out
