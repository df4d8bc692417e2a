"""k-core decomposition by iterative degree peeling.

alive_0 = V; alive_{i+1} = {v ∈ alive_i : deg_{alive_i}(v) ≥ k} until
fixpoint — the classic peel, each round one induced-degree aggregation
(edges filtered to alive×alive endpoints, groupBy count). The k-core
is the fixpoint; output = (vid, core_degree) with core_degree the
vertex's degree inside the final core.

Scale shape per round: two semi-joins of the (cached) symmetric edge
list against the alive set (shuffles keyed by src/dst) + one
partial-aggregated count — the same budget as a CC superstep. Rounds
are bounded by the peel depth (≤ max degree, in practice tiny on
link graphs). The peel is the step of ``linkgraph.iterate.iterate``,
which checkpoints the alive set every round: the plan references it
twice (src and dst filters), and uncheckpointed it would re-execute
2^rounds (SURVEY.md §4). The survivor count rides that checkpoint as
the loop's watch; the loop stops at the first round that leaves it
unchanged.

``fixed_iterations`` runs exactly N peel rounds without a convergence
check — deterministic regardless of convergence; the driver gate
compares against an unrolled-CTE DuckDB oracle at the same N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_iterations: int = 50,
    fixed_iterations: int | None = None,
) -> DataFrame:
    """Returns ``DataFrame[vid: long, core_degree: long]`` — the
    vertices of the k-core with their in-core degrees."""
    from linkgraph.graph import join_ready, symmetrize, vertices
    from linkgraph.iterate import iterate, unchanged
    from linkgraph.rolling import release

    rounds = fixed_iterations if fixed_iterations is not None else max_iterations
    if rounds < 1:
        # zero rounds would return the whole graph labeled core_degree
        # 0, violating the cd >= k contract (and the unrolled SQL
        # oracle has no round-0 degree column) — reject instead
        raise ValueError("k_core needs at least one peel round")
    # join_ready("dst"): the first per-round semi-join (on dst) reuses
    # the cached partitioning/ordering, and joining dst BEFORE src
    # leaves the second join's output partitioned by src so the
    # groupBy("src") needs no exchange — one |E| shuffle per peel
    # round instead of three (guide §2.4)
    sym = join_ready(symmetrize(edges), "dst").cache()

    def peel(alive: DataFrame, s: int, _) -> DataFrame:
        asrc = alive.select(F.col("vid").alias("src"))
        adst = alive.select(F.col("vid").alias("dst"))
        deg = (
            sym.join(adst, "dst")
            .join(asrc, "src")
            .groupBy("src")
            .agg(F.count("*").cast("long").alias("core_degree"))
        )
        return deg.where(F.col("core_degree") >= k).select(
            F.col("src").alias("vid"), "core_degree"
        )

    converge = fixed_iterations is None
    try:
        return iterate(
            vertices(edges).withColumn("core_degree", F.lit(0).cast("long")),
            peel, rounds,
            watch=[F.count(F.lit(1)).alias("n")] if converge else None,
            until=unchanged("n"),
        )
    finally:
        release(sym)
