"""Connected components via hash-min label exchange (Pregel-style).

label(v) ← min(label(v), min_{u ∈ N(v)} label(u)) until fixpoint;
initial label = vid; component id = min vid in the component.

Round shape: one ``sym ⋈ labels`` join on src plus one aggregate per
vertex over the messages and the vertex's own row. The aggregate also
carries the vertex's previous label as ``own``, so the number of labels
the round changed, Σ(component ≠ own), rides the round's rolled
checkpoint as an Observation: convergence costs no job beyond the
checkpoint, and the loop stops when the count reads 0.

Identity round: with no ``init_labels`` every label starts as the vertex
id, so round 1's join would return the edge list itself. Round 1 instead
aggregates the darts directly, label(v) = min over u→v of min(u, v):
no join and no vertex distinct. Its Observation also counts n.

Pointer jumping: plain hash-min needs O(diameter) rounds, few on a link
graph. A jump round compresses the labels through one
label→label(label) self-join (Shiloach-Vishkin-style halving), which
brings a long chain to O(log n) rounds. It checkpoints the min labels
before the self-join, so the round's aggregate runs once, and costs a
second checkpoint per round. In convergence mode jumping switches on
after round ⌈log2 n⌉, which a small-diameter graph has converged before.

Storage: the edge side is the input's ``(src, dst)`` projection,
symmetrized inline (cached for the call only when the caller has not
cached it; ``linkgraph.rolling._scanned``). Every rolled generation but
the returned one, and any cache the call made, is released on return.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    fixed_iterations: int | None = None,
    pointer_jumping: bool | None = None,
    checkpoint_every: int = 1,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns ``DataFrame[vid: long, component: long]``.

    ``init_labels`` (DataFrame[vid, component]) warm-starts from a
    previous run's components — the incremental-edges story for CC:
    new edges only MERGE components, and hash-min converges to the
    minimum of the INITIAL labels over each (new) component, which for
    old-component ids is exactly the new component's min vid — the
    same answer as a cold start, reached in O(diameter of the
    component-merge graph) rounds instead of O(diameter of the full
    graph). Vertices absent from ``init_labels`` start at their own
    vid (tests/test_algos.py pins warm ≡ cold-converged).

    ``fixed_iterations`` runs exactly that many synchronous rounds
    without a convergence check (deterministic regardless of
    convergence — used by the SQL-oracle parity harness) and disables
    pointer jumping by default so the plain unrolled SQL oracle
    matches. The default (convergence) mode stops at the first round
    that changes no label, jumps pointers after round ⌈log2 n⌉ (module
    docstring), and warns if ``max_iterations`` runs out while labels
    still change. ``pointer_jumping=True`` jumps every round,
    ``False`` never.

    ``checkpoint_every=1`` is deliberate, not conservative: each
    round's plan references the previous labels TWICE (the neighbor
    join and the own-label union), and Spark re-executes
    uncheckpointed subtrees per reference — cost doubles per
    un-checkpointed round (measured at sf0.1: 80s at every-3 vs 5-12s
    at every-1 for the same 12 rounds).
    """
    from linkgraph.graph import symmetrize, vertices
    from linkgraph.rolling import RollingCheckpoint, _scanned, release

    converge = fixed_iterations is None
    rounds = max_iterations if converge else fixed_iterations
    if pointer_jumping is None and not converge:
        pointer_jumping = False
    source, cached = _scanned(edges, "src", "dst")
    sym = symmetrize(source)
    roll = RollingCheckpoint()
    out = None
    try:
        labels = None  # the identity start, never materialized
        if init_labels is not None:
            labels = roll(
                vertices(source)
                .join(
                    init_labels.select("vid", F.col("component").alias("_c0")),
                    "vid",
                    "left",
                )
                .select(
                    "vid", F.coalesce(F.col("_c0"), F.col("vid")).alias("component")
                )
            )
        elif rounds == 0:
            labels = roll(vertices(source).withColumn("component", F.col("vid")))
        n = changed = None
        for i in range(rounds):
            if labels is None:
                new = (
                    sym.groupBy(F.col("dst").alias("vid"))
                    .agg(F.min(F.least("src", "dst")).alias("component"))
                    .withColumn("own", F.col("vid"))
                )
            else:
                msgs = sym.join(labels, sym["src"] == labels["vid"]).select(
                    F.col("dst").alias("vid"),
                    "component",
                    F.lit(None).cast("long").alias("own"),
                )
                mine = labels.select(
                    "vid", "component", F.col("component").alias("own")
                )
                new = (
                    msgs.unionByName(mine)
                    .groupBy("vid")
                    .agg(
                        F.min("component").alias("component"),
                        F.max("own").alias("own"),
                    )
                )
            if pointer_jumping or (
                pointer_jumping is None
                and n is not None
                and i + 1 > math.ceil(math.log2(n))
            ):
                # compress: component ← label(component) where known
                new = roll(new)
                lab2 = new.select(
                    F.col("vid").alias("c_vid"), F.col("component").alias("c_comp")
                )
                new = new.join(lab2, new["component"] == lab2["c_vid"], "left").select(
                    "vid",
                    F.coalesce(F.col("c_comp"), F.col("component")).alias("component"),
                    "own",
                )
            at_checkpoint = (i + 1) % checkpoint_every == 0 or i == rounds - 1
            obs = None
            if converge and at_checkpoint:
                obs = Observation()
                new = new.observe(
                    obs,
                    F.sum((F.col("component") != F.col("own")).cast("long")).alias(
                        "changed"
                    ),
                    F.count(F.lit(1)).alias("n"),
                )
            new = new.select("vid", "component")
            if at_checkpoint:
                new = roll(new)
            labels = new
            if obs is not None:
                n, changed = obs.get["n"], obs.get["changed"]
                if changed == 0:
                    break
        else:
            if converge and changed:
                warnings.warn(
                    f"connected_components ran max_iterations={rounds} rounds "
                    f"and its last round still changed {changed} labels; the "
                    "components are not final (raise max_iterations or pass "
                    "pointer_jumping=True)",
                    stacklevel=2,
                )
        out = labels
    finally:
        roll.release(keep=out)
        release(cached)
    return out.select("vid", "component")
