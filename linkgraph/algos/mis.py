"""Maximal independent set + greedy graph coloring (Luby-style local
minima with static derandomized priorities).

Reference parity: the reference's partitioners and analytics kernels
stop at PageRank/CC/LPA (`algorithms/` tree); MIS/coloring are
beyond-reference additions in the same peel/propagate family
(SURVEY.md §2.6) — standard building blocks for conflict-free
parallel scheduling over a link graph (e.g. picking a set of
never-adjacent seed pages, or batching vertex updates so no two
adjacent vertices update in the same wave).

Both operators use a STATIC priority per vertex,
``h(v) = int(md5(f"{v}:{seed}")[:15], 16)`` (60 bits — collision odds
are negligible, and even a collision is engine-agreed: both sides
compare the same values, so results still match). Static-priority
local-min selection is Luby's algorithm derandomized the same way the
random walks and negative sampler are — reproducible across engines,
runs, and cluster sizes, so the driver gate value-checks it exactly.

Round kernel (shared): an active vertex WINS iff its priority is
strictly smaller than every ACTIVE neighbor's (no active neighbor →
automatic win). MIS removes winners and their neighbors each round —
the result is exactly the greedy MIS in priority order
(lexicographically-first MIS), reached in O(log n) expected parallel
rounds. Coloring removes only the winners, assigning color = round
index (Jones-Plassmann flavor): adjacent vertices can never win the
same round, so the coloring is proper with ≤ rounds colors.

Scale shape per round: two semi/anti-joins of the cached symmetric
edge list against the shrinking active set + one partial-aggregated
min (plan-audited: a hub's adjacency collapses map-side, never one
task). The active set is rolled through localCheckpoint every round
(it is referenced twice per round; uncheckpointed the plan
re-executes 2^rounds — SURVEY.md §4), and so are the winners so far.
Every rolled generation but the returned winners, and the edge cache,
is released on return.

The rounds stay a hand-rolled loop. A port onto
``linkgraph.iterate.iterate`` with one state table ``(vid, h, _r)``
(``_r`` null while active) cut MIS to 12 jobs a round (from 14) and
coloring to 7 (from 11) with identical rows, but on a 40-vertex path in
falling priority order (local[4]) its rounds slowed superlinearly at a
flat job count: 16 MIS rounds took 318 s, against 13 s for this loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 15 hex digits = 60 bits — fits a signed long in both engines
PRIORITY_HEX_DIGITS = 15


def _priority(col, seed: int):
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", col, F.lit(seed))), 1, PRIORITY_HEX_DIGITS
        ),
        16,
        10,
    ).cast("long")


def _local_min_rounds(
    edges: DataFrame,
    seed: int,
    rounds: int,
    out_col: str,
    remove_neighbors: bool,
    allow_partial: bool,
    what: str,
) -> DataFrame:
    """Shared local-min round loop (the engine twin of the oracle's
    ``_mis_rounds``): per round select the active local minima as
    winners labeled ``out_col = round``; deactivate winners (+ their
    neighbors when ``remove_neighbors``). Raises on round exhaustion
    with vertices still active unless ``allow_partial``."""
    from linkgraph.graph import join_ready, symmetrize, vertices
    from linkgraph.rolling import RollingCheckpoint, release

    roll = RollingCheckpoint()
    roll_out = RollingCheckpoint()
    # per-round joins hit sym on src first (and the dst join's output
    # already feeds groupBy(dst) exchange-free) — join-ready cache
    sym = join_ready(symmetrize(edges), "src").cache()
    result = None
    try:
        active = roll(
            vertices(edges).select(
                "vid", _priority(F.col("vid"), seed).alias("h")
            )
        )
        out = None
        for r in range(1, rounds + 1):
            nbr_min = (
                sym.join(active.select(F.col("vid").alias("src"), "h"), "src")
                .join(active.select(F.col("vid").alias("dst")), "dst")
                # min over the SOURCE endpoint's priority, grouped by
                # the destination: for each active vertex, the smallest
                # active neighbor priority (partial map-side min — a
                # hub never ships its adjacency into one task)
                .groupBy("dst")
                .agg(F.min("h").alias("nbr_h"))
                .select(F.col("dst").alias("vid"), "nbr_h")
            )
            winners = (
                active.join(nbr_min, "vid", "left")
                # no active neighbor (isolated in the remaining graph)
                # → automatic winner
                .where(F.col("nbr_h").isNull() | (F.col("h") < F.col("nbr_h")))
                .select("vid")
                .withColumn(out_col, F.lit(r))
            )
            out = roll_out(winners if out is None else out.unionByName(winners))
            # re-read this round's winners from the MATERIALIZED output
            # so the join+agg behind `winners` executes exactly once
            won = out.where(F.col(out_col) == r).select("vid")
            remaining = active.join(won, "vid", "left_anti")
            if remove_neighbors:
                loser = (
                    sym.join(won.select(F.col("vid").alias("src")), "src")
                    .select(F.col("dst").alias("vid"))
                    .distinct()
                )
                remaining = remaining.join(loser, "vid", "left_anti")
            active = roll(remaining)
            if active.isEmpty():
                break
        else:
            if not allow_partial and not active.isEmpty():
                raise RuntimeError(
                    f"{what} did not converge in {rounds} rounds; "
                    "raise max_rounds or pass allow_partial=True"
                )
        result = out
    finally:
        roll.release()
        roll_out.release(keep=result)
        release(sym)
    return result


def maximal_independent_set(
    edges: DataFrame,
    seed: int = 985,
    max_rounds: int = 30,
    fixed_iterations: int | None = None,
    allow_partial: bool = False,
) -> DataFrame:
    """Greedy (priority-order) maximal independent set of the
    undirected graph. Returns ``DataFrame[vid: long, mis_round: int]``
    — the MIS members and the round each entered.

    With ``fixed_iterations`` runs exactly N rounds (driver gate:
    deterministic work matching the unrolled oracle; the loop still
    short-circuits once nothing is active). Raises if rounds are
    exhausted with vertices still active, unless ``allow_partial``
    (then the returned set is independent but possibly not maximal).
    """
    rounds = fixed_iterations if fixed_iterations is not None else max_rounds
    return _local_min_rounds(
        edges, seed, rounds, "mis_round",
        remove_neighbors=True, allow_partial=allow_partial, what="MIS",
    )


def greedy_coloring(
    edges: DataFrame,
    seed: int = 985,
    max_rounds: int = 60,
    fixed_iterations: int | None = None,
    allow_partial: bool = False,
) -> DataFrame:
    """Proper vertex coloring by iterated local minima
    (Jones-Plassmann with round-index colors). Returns
    ``DataFrame[vid: long, color: int]``; colors are 1-based round
    numbers, adjacent vertices always differ.

    Local-min coloring colors ≈ n/(deg+1) vertices per round, so it
    converges fast on SPARSE graphs (the regime it is for) and slowly
    on near-cliques — greedy coloring of a clique is inherently
    sequential. ``allow_partial=True`` returns whatever subset was
    properly colored within the round budget instead of raising (the
    driver gate uses fixed_iterations + allow_partial: an exact
    value-check of N kernel rounds on the dense co-occurrence graph,
    documented as a partial coloring there).
    """
    rounds = fixed_iterations if fixed_iterations is not None else max_rounds
    return _local_min_rounds(
        edges, seed, rounds, "color",
        remove_neighbors=False, allow_partial=allow_partial, what="coloring",
    )
