"""Multi-source BFS distances (unweighted shortest paths) — the
fourth classic Pregel kernel next to PageRank/CC/LPA — and ``_relax``,
the one frontier relaxation step BFS, landmark BFS, weighted SSSP
(``algos/sssp.py``) and topological levels (``algos/dag.py``) share.

dist(v) starts at 0 on the source set; each round propagates
min(dist(u) + 1) over neighbors and folds it with the current
distance — integer min, so results are exact and the unrolled SQL
oracle matches bit-for-bit at a fixed round count. Unreached vertices
simply don't appear (the frontier never visits them).

The rounds run in ``linkgraph.iterate.iterate``. The state is one
table ``(keys…, value, fresh)``; ``fresh`` marks the rows whose value
improved last round, and they are the frontier. A round joins the
cached, pre-partitioned darts to the frontier, aggregates one
candidate per key (``min`` or ``max`` of value + weight) and
full-outer-joins it to the state, keeping the better value and
recomputing ``fresh``; the loop checkpoints that one table. Per-round
edge fan-out is |frontier|-bound: late rounds touching a handful of
fringe vertices cost a handful of joins, not |reached|
re-propagations. Exact: the fold is monotone, so a vertex that didn't
improve last round generates exactly the candidates it already
generated before — dropping it changes nothing. The frontier size,
``count_if(fresh)``, rides each round's checkpoint as the loop's
watch; BFS's convergence mode stops when it reads 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _relax(
    darts: DataFrame,
    start: DataFrame,
    keys: tuple[str, ...],
    value: str,
    rounds: int,
    longest: bool = False,
    weight: str | None = None,
    converge: bool = False,
    counts: list[int] | None = None,
) -> DataFrame:
    """``rounds`` frontier relaxations of ``start`` ``(keys…, value)``,
    every row of it on the first frontier, over ``darts[src, dst(,
    weight)]`` (module docstring). ``keys`` ends in ``vid``, the key
    the darts join on; the ones before it (a landmark) ride along.
    Each candidate is value + ``weight`` (+1 without one), folded
    with min, or max when ``longest``. ``counts`` receives each
    round's frontier size; ``converge`` stops at an empty frontier.
    The darts are cached here for the call and released on return."""
    from linkgraph.graph import join_ready
    from linkgraph.iterate import iterate
    from linkgraph.rolling import release

    agg, fold = (F.max, F.greatest) if longest else (F.min, F.least)
    step_w = F.col(weight) if weight else F.lit(1)
    # per-round frontier joins reuse the cached edge-side partitioning
    edge = join_ready(darts, "src").cache()

    def step(state: DataFrame, s: int, _) -> DataFrame:
        front = state.where("fresh")
        cand = (
            edge.join(front, edge["src"] == front["vid"])
            .select(
                *keys[:-1],
                F.col("dst").alias("vid"),
                (F.col(value) + step_w).alias("_cand"),
            )
            .groupBy(*keys)
            .agg(agg("_cand").alias("_cand"))
        )
        old, new = F.col(value), F.col("_cand")
        gain = new > old if longest else new < old
        return state.join(cand, list(keys), "full_outer").select(
            *keys,
            fold(old, new).alias(value),
            (new.isNotNull() & (old.isNull() | gain)).alias("fresh"),
        )

    def until(values: dict) -> bool:
        if counts is not None:
            counts.append(values["n"])
        return converge and values["n"] == 0

    watch = converge or counts is not None
    try:
        out = iterate(
            start.withColumn("fresh", F.lit(True)), step, rounds,
            watch=[F.count_if("fresh").alias("n")] if watch else None,
            until=until,
        )
    finally:
        release(edge)
    return out.select(*keys, value)


def landmark_distances(
    edges: DataFrame,
    landmarks: list[int],
    fixed_iterations: int = 8,
) -> DataFrame:
    """Per-landmark BFS distances — ``DataFrame[lm, vid, dist]`` with
    one row per (landmark, reachable vertex). Unlike
    ``bfs_distances`` (which folds all sources into one min), the
    state is keyed by (lm, vid), so all |landmarks| BFS trees advance
    in ONE batched superstep loop: per round one join + one
    partial-aggregated min, fan-out bounded by |frontier| summed over
    landmarks — the standard landmark/sketch substrate (harmonic /
    closeness centrality estimates, Bourgain embeddings) at 100 TB,
    where per-landmark sequential sweeps would multiply the superstep
    count by |landmarks|."""
    from linkgraph.graph import symmetrize

    start = edges.sparkSession.createDataFrame(
        [(s, s, 0) for s in sorted({int(s) for s in landmarks})],
        "lm long, vid long, dist long",
    )
    return _relax(symmetrize(edges), start, ("lm", "vid"), "dist", fixed_iterations)


def harmonic_centrality(
    edges: DataFrame,
    landmarks: list[int],
    fixed_iterations: int = 8,
) -> DataFrame:
    """Landmark-estimated harmonic centrality: C_H(v) = Σ_{s∈L, v≠s}
    1/d(s, v) over the landmark set (the standard sampled estimator —
    exact harmonic centrality is all-pairs and off the table at any
    scale). Exact integer distances feed a 6-decimal-rounded float
    sum, so the unrolled-CTE oracle matches."""
    d = landmark_distances(edges, landmarks, fixed_iterations)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("vid")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic"))
    )


def eccentricity_lb(
    edges: DataFrame,
    landmarks: list[int],
    fixed_iterations: int = 8,
) -> DataFrame:
    """Landmark eccentricity lower bound: ecc(v) ≥ max_{s∈L} d(s, v)
    — the double-sweep-style per-vertex diameter diagnostic (the max
    over any landmark set is a valid lower bound; the graph's true
    diameter ≥ the largest value emitted). Integer max over the
    shared landmark-BFS state — exact cross-engine; one extra
    partial-aggregated max on top of ``landmark_distances``."""
    d = landmark_distances(edges, landmarks, fixed_iterations)
    return d.groupBy("vid").agg(
        F.count("*").cast("long").alias("n_landmarks"),
        F.max("dist").cast("long").alias("ecc_lb"),
    )


def bfs_distances(
    edges: DataFrame,
    sources: list[int],
    max_iterations: int = 20,
    fixed_iterations: int | None = None,
    frontier_counts: list[int] | None = None,
) -> DataFrame:
    """Returns ``DataFrame[vid: long, dist: long]`` for every vertex
    reachable from ``sources`` (sources themselves at dist 0).
    ``frontier_counts`` (optional) collects the per-round frontier
    sizes — the scale evidence that late rounds shrink."""
    from linkgraph.graph import symmetrize

    if frontier_counts is not None:
        frontier_counts.append(len(sources))
    start = edges.sparkSession.createDataFrame(
        [(s, 0) for s in sorted({int(s) for s in sources})], "vid long, dist long"
    )
    return _relax(
        symmetrize(edges), start, ("vid",), "dist",
        fixed_iterations if fixed_iterations is not None else max_iterations,
        converge=fixed_iterations is None, counts=frontier_counts,
    )


def distance_histogram(
    edges: DataFrame,
    landmarks: list[int],
    fixed_iterations: int = 8,
) -> DataFrame:
    """Landmark-sampled distance distribution — the neighborhood-
    function / effective-diameter estimator (ANF-style, with exact
    per-landmark BFS instead of sketches). Returns one row per
    distance value: ``(dist, n_pairs, cum_share)`` where cum_share is
    the fraction of reached (landmark, vertex) pairs at distance ≤
    dist; the effective diameter reads off as the smallest dist with
    cum_share ≥ 0.9. Integer counts + a fixed-order window over the
    ≤ fixed_iterations+1 histogram rows — exact cross-engine."""
    from pyspark.sql import Window

    d = landmark_distances(edges, landmarks, fixed_iterations)
    hist = d.groupBy("dist").agg(F.count("*").cast("long").alias("n_pairs"))
    w = Window.orderBy("dist")
    total = Window.orderBy("dist").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "dist",
        "n_pairs",
        F.round(F.sum("n_pairs").over(w) / F.sum("n_pairs").over(total), 6)
        .alias("cum_share"),
    )
