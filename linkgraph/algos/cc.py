"""Connected components via hash-min label exchange (Pregel-style).

label(v) ← min(label(v), min_{u ∈ N(v)} label(u)) until fixpoint;
initial label = vid; component id = min vid in the component.

The rounds run in ``linkgraph.iterate.iterate``: rolled checkpoints
here, a durable snapshot per round in ``pregel.cc_checkpointed``. Round
shape: one ``sym ⋈ labels`` join on src plus one aggregate per vertex
over the messages and the vertex's own row. The aggregate also carries
the vertex's previous label as ``own``, so the number of labels the
round changed, Σ(component ≠ own), rides the round's checkpoint as the
loop's watch: convergence costs no job beyond the checkpoint, and the
loop stops when the count reads 0. That is the one CC stop rule; the
CSR kernel (``csr.cc_csr_blocks``) carries ``own`` the same way.

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

from pyspark.sql import Column, DataFrame
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
    from linkgraph.rolling import _scanned, release

    converge = fixed_iterations is None
    rounds = max_iterations if converge else fixed_iterations
    if pointer_jumping is None and not converge:
        pointer_jumping = False
    source, cached = _scanned(edges, "src", "dst")
    seeded = None
    try:
        # the identity start is read only when no round runs
        start = vertices(source).withColumn("component", F.col("vid"))
        if init_labels is not None:
            seeded = start = (
                vertices(source)
                .join(init_labels.select("vid", "component"), "vid", "left")
                .select("vid", F.coalesce("component", "vid").alias("component"))
                .localCheckpoint()
            )
        labels, changed = _hash_min(
            symmetrize(source), start, rounds, converge, pointer_jumping,
            checkpoint_every, identity=init_labels is None,
        )
    finally:
        release(seeded, cached)
    if changed:
        warnings.warn(
            f"connected_components ran max_iterations={rounds} rounds "
            f"and its last round still changed {changed} labels; the "
            "components are not final (raise max_iterations or pass "
            "pointer_jumping=True)",
            stacklevel=2,
        )
    return labels


def _hash_min(
    sym: DataFrame, start: DataFrame, rounds: int, converge: bool,
    pointer_jumping: bool | None, every: int, identity: bool,
    n: int | None = None, **durable,
) -> tuple[DataFrame, int | None]:
    """``iterate`` hash-min rounds over ``sym`` from ``start``
    (``identity``: every label is the vertex id, so round 1 joins
    nothing). In convergence mode the changed-label count and n ride
    each checkpoint and the loop stops at changed = 0; ``n``, when
    known, gates jumping from round 1 on. ``durable`` is the loop's
    sink arguments. Returns the labels and the last changed count
    (``None`` when nothing was observed)."""
    from linkgraph.iterate import iterate

    seen = {"n": n, "changed": None}

    def step(labels: DataFrame, s: int, cut) -> DataFrame:
        if s == 1 and identity:
            new = (
                sym.groupBy(F.col("dst").alias("vid"))
                .agg(F.min(F.least("src", "dst")).alias("component"))
                .withColumn("own", F.col("vid"))
            )
        else:
            msgs = sym.join(labels, sym["src"] == labels["vid"]).select(
                F.col("dst").alias("vid"), "component"
            )
            new = _min_label(msgs, labels)
        if pointer_jumping or (
            pointer_jumping is None
            and seen["n"] is not None
            and s > math.ceil(math.log2(seen["n"]))
        ):
            # compress: component ← label(component) where known
            new = cut(new)
            lab2 = new.select(
                F.col("vid").alias("c_vid"), F.col("component").alias("c_comp")
            )
            new = new.join(lab2, new["component"] == lab2["c_vid"], "left").select(
                "vid",
                F.coalesce(F.col("c_comp"), F.col("component")).alias("component"),
                "own",
            )
        return new

    def until(values: dict) -> bool:
        seen.update(values)
        return values["changed"] == 0

    labels = iterate(
        start, step, rounds, every, _watch() if converge else None, until,
        **durable,
    )
    return labels.select("vid", "component"), seen["changed"]


def _min_label(msgs: DataFrame, labels: DataFrame) -> DataFrame:
    """A hash-min round's aggregate: each vertex's minimum over its
    messages ``(vid, component)`` and its own label, which it also
    carries as ``own`` for ``_watch``'s changed count."""
    mine = labels.select("vid", "component", F.col("component").alias("own"))
    return (
        msgs.withColumn("own", F.lit(None).cast("long"))
        .unionByName(mine)
        .groupBy("vid")
        .agg(F.min("component").alias("component"), F.max("own").alias("own"))
    )


def _watch() -> list[Column]:
    """The one CC stop test, observed on a round's checkpoint: the
    labels the round changed (the loop stops at 0) and n."""
    return [
        F.sum((F.col("component") != F.col("own")).cast("long")).alias("changed"),
        F.count(F.lit(1)).alias("n"),
    ]
