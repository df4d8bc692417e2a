"""Strongly connected components by distributed min-label coloring
(the FW-BW / "coloring" algorithm family — the standard Pregel-style
SCC next to the CC/PR/LPA/BFS kernels; reference computes undirected
CC only, e.g. its partition-quality completeness checks, so this is
the directed-graph extension).

Outer round:
1. FORWARD phase — propagate min vid along edge direction to a
   fixpoint: color(v) = min{u : u ⇝ v} (including v). Every vertex v
   with color(v) = v is a *pivot*: no smaller vertex reaches it, so a
   pivot is the minimum vid of its SCC and every SCC member keeps the
   pivot's color (a smaller ancestor of a member would also be an
   ancestor of the pivot).
2. BACKWARD phase — on the same-color edge subgraph, propagate min
   vid AGAINST edge direction: b(v) = min{u : v ⇝ u, same color}.
   Since the pivot c is the strict minimum vid of its color class,
   b(v) = c ⟺ v reaches c ⟺ v ∈ SCC(c).
3. Emit (vid, scc = color) for {v : b(v) = color(v)}, peel the
   settled vertices, repeat on the remainder.

Both phases are CC's hash-min fixpoint (``cc._hash_min`` on
``linkgraph.iterate.iterate``), run over directed edges with pointer
jumping every round: after the edge message, each round compresses
color(v) ← color(color(v)) — valid because min-ancestor (and
min-descendant) labels compose transitively — so a phase converges in
O(log diameter) rounds, not O(diameter) (the plain loop measurably
fails to converge within 60 rounds on the sf0.01 order-sequence graph,
whose forward depth exceeds it; jumping converges in ~12). The phase
stops at the first round that changes no label, CC's changed-label
count riding each round's checkpoint. Every vertex starts as its own
label: on directed edges a source-only vertex receives no message, so
CC's join-free identity round does not apply.

Because the emitted label is the SCC's minimum vid — a canonical
graph property independent of iteration schedule — the driver gate
checks it against an independent pure-Python Tarjan literal oracle
(linkgraph/oracle/literal.py::sql_scc).

Each outer round starts with a TRIM pass (classic FW-BW-Trim): a
vertex with no incoming or no outgoing edge in the remaining graph is
on no cycle — a singleton SCC peeled with two anti-joins, no
propagation. Trim is what keeps DAG chains / bowtie periphery from
costing an outer round per vertex. If ``max_outer`` is still
exhausted with unsettled vertices the function RAISES rather than
returning a silently-incomplete labeling.

Scale shape: each propagation round is two shuffle joins (edge
message + jump) and one partial-aggregated min — the pointer-jumping
CC superstep budget. Each outer round settles at least every current
pivot plus the trimmed periphery; link graphs settle in 2-4 outer
rounds (the giant SCC goes first, the DAG-ish remainder trims). The
outer loop's tables (remaining edges, vertices, trimmed singletons,
result) roll through localCheckpoint; every generation but the
returned result, each phase's labels and the reversed edge cache are
released on return.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _phase(edges: DataFrame, verts: DataFrame, max_inner: int) -> DataFrame:
    """color(v) = min({v} ∪ {color(u): (u, v) ∈ edges}) at its fixpoint
    (at most ``max_inner`` rounds) → DataFrame[vid, component], the
    loop's last rolled generation (free it with ``rolling.release``)."""
    from linkgraph.algos.cc import _hash_min

    labels, _ = _hash_min(
        edges, verts.withColumn("component", F.col("vid")), max_inner,
        converge=True, pointer_jumping=True, every=1, identity=False,
    )
    return labels


def strongly_connected_components(
    edges: DataFrame, max_outer: int = 30, max_inner: int = 40
) -> DataFrame:
    """``edges``: DIRECTED DataFrame[src, dst]. Returns
    ``DataFrame[vid: long, scc: long]`` with scc = min vid of the
    strongly connected component."""
    from linkgraph.graph import join_ready
    from linkgraph.rolling import RollingCheckpoint, release

    roll_e = RollingCheckpoint()
    roll_v = RollingCheckpoint()
    roll_t = RollingCheckpoint()
    roll_out = RollingCheckpoint()
    colors = back = rev = result = out = None
    try:
        # remaining is joined on src by EVERY forward-propagation round —
        # hash-partition + sort it once per outer round so those joins
        # reuse the checkpointed partitioning/ordering (guide §2.4)
        remaining = roll_e(join_ready(edges.select("src", "dst").distinct(), "src"))
        # vertex-count Observations ride every verts checkpoint so the
        # per-round emptiness checks cost zero extra jobs (guide §1.5)
        obs_v = Observation()
        verts = roll_v(
            remaining.select(F.col("src").alias("vid"))
            .unionByName(remaining.select(F.col("dst").alias("vid")))
            .distinct()
            .observe(obs_v, F.count(F.lit(1)).alias("n"))
        )
        verts_n = obs_v.get["n"]
        for _ in range(max_outer):
            if verts_n == 0:
                break
            # -- TRIM: a vertex with no incoming (or no outgoing) edge in
            # the remaining graph is on no cycle — a singleton SCC. Peel
            # those cheaply (two anti-joins per pass, no propagation)
            # before the coloring phases; this is what keeps DAG chains /
            # bowtie periphery from costing one full outer round per
            # vertex (classic FW-BW-Trim).
            for _ in range(3):
                srcs = remaining.select(F.col("src").alias("vid")).distinct()
                dsts = remaining.select(F.col("dst").alias("vid")).distinct()
                obs = Observation()
                trivial = roll_t(
                    verts.join(srcs, "vid", "left_anti")
                    .unionByName(verts.join(dsts, "vid", "left_anti"))
                    .distinct()
                    .select("vid", F.col("vid").alias("scc"))
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                )
                if obs.get["n"] == 0:
                    break
                result = roll_out(
                    trivial
                    if result is None
                    else result.unionByName(trivial)
                )
                tv = result.select("vid")  # cumulative settled — anti-join safe
                obs_v = Observation()
                verts = roll_v(
                    verts.join(tv, "vid", "left_anti").observe(
                        obs_v, F.count(F.lit(1)).alias("n")
                    )
                )
                verts_n = obs_v.get["n"]
                # anti-join dst first, then src: the src anti-join's output
                # keeps src hash-partitioning, so the next propagation's
                # edge joins need no exchange (anti-joins commute)
                remaining = roll_e(
                    remaining.join(
                        tv.select(F.col("vid").alias("dst")), "dst", "left_anti"
                    ).join(
                        tv.select(F.col("vid").alias("src")), "src", "left_anti"
                    )
                )
            if verts_n == 0:
                break
            # -- forward: color = min ancestor ----------------------------
            colors = _phase(remaining, verts, max_inner)
            # -- same-color edge subgraph (the only edges SCCs can use) ---
            ce = (
                remaining.join(
                    colors.select(
                        F.col("vid").alias("src"), F.col("component").alias("c_src")
                    ),
                    "src",
                )
                .join(
                    colors.select(
                        F.col("vid").alias("dst"), F.col("component").alias("c_dst")
                    ),
                    "dst",
                )
                .where(F.col("c_src") == F.col("c_dst"))
                .select("src", "dst")
            )
            # -- backward: b = min descendant within the color class ------
            # (labels flow against edge direction: orient dst→src); cache
            # the REVERSED view join-ready so every backward round reuses
            # its partitioning/ordering instead of re-shuffling it
            rev = join_ready(
                ce.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                "src",
            ).cache()
            back = _phase(rev, verts, max_inner)
            # b(v) = color(v) ⟺ v reaches its pivot ⟺ v ∈ SCC(pivot)
            # (the pivot is the strict minimum vid of its color class)
            settled = (
                colors.join(back.select("vid", F.col("component").alias("b")), "vid")
                .where(F.col("b") == F.col("component"))
                .select("vid", F.col("component").alias("scc"))
            )
            # ALWAYS materialize the accumulator into its own roller —
            # settled lazily references the phases' labels, freed next
            result = roll_out(
                settled if result is None else result.unionByName(settled)
            )
            release(colors, back, rev)
            # -- peel the settled vertices --------------------------------
            done = result.select("vid")
            obs_v = Observation()
            verts = roll_v(
                verts.join(done, "vid", "left_anti").observe(
                    obs_v, F.count(F.lit(1)).alias("n")
                )
            )
            verts_n = obs_v.get["n"]
            remaining = roll_e(
                remaining.join(
                    done.select(F.col("vid").alias("dst")), "dst", "left_anti"
                ).join(
                    done.select(F.col("vid").alias("src")), "src", "left_anti"
                )
            )
        else:
            # the loop ran out of rounds with work left — NEVER return a
            # silently-incomplete labeling (code-review finding: on an
            # adversarial shape one SCC can settle per round)
            if verts_n != 0:
                raise RuntimeError(
                    "strongly_connected_components: max_outer="
                    f"{max_outer} exhausted with unsettled vertices — "
                    "raise max_outer (each round peels trim-able "
                    "periphery + every pivot SCC)"
                )
        out = result
    finally:
        for roll in (roll_e, roll_v, roll_t):
            roll.release()
        roll_out.release(keep=out)
        release(colors, back, rev)
    if out is None:  # empty edge list
        return edges.sparkSession.createDataFrame([], "vid long, scc long")
    return out
