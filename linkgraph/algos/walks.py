"""Seeded random-walk sampling (GNN/embedding training substrate).

One walk per start vertex, ``walk_len`` steps: at step s the walk at
vertex v moves to the neighbor u minimizing the engine-portable hash
``int(md5(f"{v}:{s}:{u}:{seed}")[:8], 16)`` — a deterministic
pseudo-random choice (the same md5 derandomization the partitioner
stream order uses, computable identically in DuckDB), so walks are
reproducible across engines, runs, and cluster sizes, and the driver
gate can value-check them exactly (no RNG state).

Scale shape per step: frontier ⋈ symmetric edges (shuffle on the
current vertex) + a per-walk ``min_by`` aggregate — the same budget
as one CC superstep; the frontier is one row per walk. The argmin is
a groupBy aggregate (NOT a window) so map-side partial aggregation
collapses a hub's adjacency to one row per walk per input partition
before the shuffle — a 10^8-degree hub never ships its whole
neighbor list into a single task. Dead ends (isolated
vertices can't occur on a symmetrized edge list, but a walk could in
principle hit one on filtered graphs) terminate the walk early via
the inner join.

The steps run in ``linkgraph.iterate.iterate``. The state is the
output so far, ``(start_vid, step, vid)`` (node2vec also carries each
position's ``prev``): step s reads the rows of step s − 1 as its
frontier and appends the new positions, and the loop checkpoints that
one table per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    seed: int = 985,
    step_plans: list[str] | None = None,
) -> DataFrame:
    """Returns ``DataFrame[start_vid, step, vid]`` — step 0 is the
    start vertex, steps 1..walk_len the visited vertices.
    ``step_plans`` (optional, tests) collects each step's physical
    plan string before checkpointing — the evidence that the argmin
    partially aggregates map-side."""
    from linkgraph.graph import join_ready, symmetrize, vertices
    from linkgraph.hashing import md5_prefix_hash
    from linkgraph.iterate import iterate
    from linkgraph.rolling import release

    # per-step frontier join reuses the cached edge-side partitioning
    sym = join_ready(symmetrize(edges), "src").cache()

    def step(walks: DataFrame, s: int, _) -> DataFrame:
        cur = walks.where(F.col("step") == s - 1)
        nxt = (
            cur.join(sym, cur["vid"] == sym["src"])
            .withColumn("h", md5_prefix_hash("src", s, "dst", seed))
            # argmin over (h, dst) as a partial-aggregating min_by —
            # identical winner to the former row_number window, but a
            # hub's fan-out collapses map-side instead of serializing
            # through one window task
            .groupBy("start_vid")
            .agg(
                F.min_by(F.col("dst"), F.struct("h", "dst")).alias("vid")
            )
        )
        if step_plans is not None:
            step_plans.append(
                nxt._jdf.queryExecution().executedPlan().toString()
            )
        return walks.unionByName(
            nxt.select("start_vid", F.lit(s).cast("long").alias("step"), "vid")
        )

    try:
        start = vertices(edges).select(
            F.col("vid").alias("start_vid"), F.lit(0).cast("long").alias("step"), "vid"
        )
        return iterate(start, step, walk_len)
    finally:
        release(sym)


def _step_hash(v_col, s: int, u_col, j, seed: int):
    """Engine-portable ticket hash int(md5(f"{v}:{s}:{u}:{j}:{seed}")
    [:8], 16) — one independent lottery ticket per unit of weight."""
    from linkgraph.hashing import md5_prefix_hash

    return md5_prefix_hash(v_col, s, u_col, j, seed)


def node2vec_walks(
    edges: DataFrame, walk_len: int = 3, seed: int = 985
) -> DataFrame:
    """Second-order (node2vec-style) biased walks, one per vertex →
    ``DataFrame[start_vid, step, vid]``.

    Step 1 is first-order uniform; steps ≥ 2 bias the choice of next
    neighbor u from current v given previous t (p = 2, q = 1/2 scaled
    to integer weights): RETURN to t → weight 1, u adjacent to t
    ("stay close") → weight 2, u not adjacent to t ("explore") →
    weight 4.

    Weighted choice is derandomized EXACTLY with the lottery-ticket
    trick: every unit of weight gets one independent md5 ticket
    hash(v, step, u, ticket_j, seed); the walk moves to the neighbor
    holding the globally smallest ticket, so u wins with probability
    weight(u) / Σ weight — integer hash comparisons only, identical
    arithmetic in DuckDB (no pow/libm divergence), reproducible across
    engines/runs/cluster sizes. The argmin is a partial-aggregating
    ``min_by`` (hub fan-out collapses map-side, same shape as
    ``random_walks``); the adjacency bias costs one extra join of the
    candidate set against the symmetric edge list per step — the
    triangle-enumeration budget, not a window.
    """
    from linkgraph.graph import join_ready, symmetrize, vertices
    from linkgraph.iterate import iterate
    from linkgraph.rolling import release

    BIG = 1 << 33  # sentinel above any 32-bit md5 prefix
    # both per-step edge-side joins reuse cached partitioning: sym by
    # the walk-frontier key, adj by the (prev, dst) bias-lookup pair
    sym = join_ready(symmetrize(edges), "src").cache()
    adj = join_ready(
        sym.select(F.col("src").alias("_a"), F.col("dst").alias("_b")),
        "_a",
        "_b",
    ).cache()

    def step(walks: DataFrame, s: int, _) -> DataFrame:
        cur = walks.where(F.col("step") == s - 1)
        cand = cur.join(sym, cur["vid"] == sym["src"])
        if s == 1:
            # first-order: every neighbor weight 1 (single ticket)
            key = _step_hash(F.col("src"), s, F.col("dst"), 0, seed)
            cand = cand.withColumn("key", key)
        else:
            cand = cand.join(
                adj,
                (cand["prev"] == adj["_a"]) & (cand["dst"] == adj["_b"]),
                "left",
            )
            w = (
                F.when(F.col("dst") == F.col("prev"), F.lit(1))
                .when(F.col("_a").isNotNull(), F.lit(2))
                .otherwise(F.lit(4))
            )
            t = [
                _step_hash(F.col("src"), s, F.col("dst"), j, seed)
                for j in range(4)
            ]
            cand = cand.withColumn(
                "key",
                F.least(
                    t[0],
                    F.when(w >= 2, t[1]).otherwise(F.lit(BIG)),
                    F.when(w >= 4, t[2]).otherwise(F.lit(BIG)),
                    F.when(w >= 4, t[3]).otherwise(F.lit(BIG)),
                ),
            )
        nxt = cand.groupBy("start_vid").agg(
            F.min_by(
                F.struct(
                    F.col("dst").alias("vid"), F.col("vid").alias("prev")
                ),
                F.struct("key", "dst"),
            ).alias("m")
        )
        return walks.unionByName(
            nxt.select(
                "start_vid",
                F.lit(s).cast("long").alias("step"),
                F.col("m.vid").alias("vid"),
                F.col("m.prev").alias("prev"),
            )
        )

    try:
        start = vertices(edges).select(
            F.col("vid").alias("start_vid"),
            F.lit(0).cast("long").alias("step"),
            "vid",
            F.col("vid").alias("prev"),
        )
        return iterate(start, step, walk_len).select("start_vid", "step", "vid")
    finally:
        release(adj, sym)
