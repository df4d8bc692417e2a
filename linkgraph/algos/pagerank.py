"""PageRank as Pregel-style message passing over DataFrame joins.

Semantics (north star + the survey paper bundled with the reference,
papers/Design and Implementation of Parallel PageRank on Multicore
Platforms.pdf): r'(v) = (1-d)/n + d·(Σ_{u→v} r(u)/outdeg(u) +
dangling_mass/n), d = 0.85, dangling mass redistributed uniformly.

Degree in the state. On a symmetrized edge list every vertex v receives
exactly outdeg(v) messages per superstep, so the superstep's aggregate
counts them and emits the next out-degree next to the rank. The state
is ``(src, rank, outdeg)``, keyed by the join column, and the edge side
is the bare symmetrized edge list: no ``edges ⋈ outdeg`` table is built
or cached, and no vertex distinct is run. Setup is one out-degree
checkpoint with n riding it as an Observation
(``linkgraph.pregel._degree_setup``), and the state starts from that
table. ``pagerank_weighted`` carries Σ weight the same way and
``pagerank_personalized`` the degree. Directed PageRank keeps a cached
``edges ⋈ outdeg`` table, since there in-degree ≠ out-degree.

Execution shape per superstep (the scale-critical part):
- ``edges ⋈ state`` on src — broadcast, sort-merge or shuffled-hash
  join on the superstep's only wide dependency; AQE skew-join splits
  hot src keys.
- message aggregation ``groupBy(dst)`` — Spark performs partial
  (map-side) aggregation, so a 10^8-degree hub reduces to one partial
  sum per task before the shuffle; explicit salting
  (``linkgraph.partition.salt``) is available when the *join* itself
  skews.
- lineage truncated every ``checkpoint_every`` supersteps via a rolling
  localCheckpoint (or durable checkpoints via ``linkgraph.pregel``) —
  without it the Catalyst plan doubles per iteration.

Storage: an uncached input is cached for the call (so an expensive
derivation upstream runs once, not once per superstep), and every
table a kernel cached or checkpointed is released before it returns,
except the one rolled generation the returned ranks read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _supersteps(
    state: DataFrame,
    step,
    iterations: int,
    checkpoint_every: int,
    tol: float | None = None,
) -> DataFrame:
    """The join kernels' loop: ``state = step(state)`` per round, keyed
    by ``src``. Lineage is cut by a rolling localCheckpoint every
    ``checkpoint_every`` rounds and after the last; with ``tol`` every
    round is rolled and the loop stops once max |Δrank| < tol (one
    extra join per round). Every rolled generation but the returned
    state is released before returning, and the returned state is a
    rolled generation, so it outlives the tables it was derived from."""
    from linkgraph.rolling import RollingCheckpoint

    roll = RollingCheckpoint()
    if tol is not None:
        # the Δ join reads the previous state next to the new one: an
        # unrolled state would re-execute per reference
        checkpoint_every = 1
    out = None
    try:
        if iterations == 0:
            state = roll(state)  # outlive the tables it is derived from
        for i in range(iterations):
            new = step(state)
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                new = roll(new)
            if tol is not None:
                delta = (
                    new.alias("a")
                    .join(state.alias("b"), "src")
                    .agg(F.max(F.abs(F.col("a.rank") - F.col("b.rank"))))
                    .first()[0]
                )
                state = new
                if delta is not None and delta < tol:
                    break
            else:
                state = new
        out = state
    finally:
        roll.release(keep=out)
    return out.select(F.col("src").alias("vid"), "rank")


def pagerank(
    edges: DataFrame,
    iterations: int = 20,
    damping: float = 0.85,
    tol: float | None = None,
    directed: bool = False,
    checkpoint_every: int = 3,
    bucket_table: str | None = None,
    n_buckets: int = 32,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns ``DataFrame[vid: long, rank: double]``.

    ``directed=False`` symmetrizes the one-direction undirected edge
    list first. Then no dangling vertices exist, each superstep is one
    ``sym ⋈ state`` join plus one aggregate that also counts the next
    out-degree (module docstring), and n comes from the out-degree
    checkpoint. ``directed=True`` joins a cached ``edges ⋈ outdeg``
    table, counts n with a vertex distinct, and pays one job per
    superstep for the dangling mass when dangling vertices exist. With
    ``tol`` set, stops early when max |Δrank| < tol (one extra join per
    superstep).

    ``init_ranks`` (DataFrame[vid, rank]) warm-starts the iteration —
    the incremental-edges story's second half: after new edges stream
    in (see ``offstream_spark``), restart from yesterday's converged
    ranks instead of uniform. Vertices absent from ``init_ranks`` (the
    genuinely new ones) start at 1/n; the vector is then renormalized
    to sum 1 so the fixpoint target is unchanged (the sum rides the
    seeded state's checkpoint as an Observation). Convergence from a
    warm vector needs far fewer supersteps than from uniform
    (tests/test_algos.py pins warm-5 ≈ cold-20 closer than cold-5),
    and each skipped superstep at 100 TB is a skipped full-corpus
    shuffle.

    ``bucket_table``: write the edge side ``(src, dst)`` (symmetrized
    unless ``directed``) ONCE as a table bucketed+sorted on ``src``.
    Every superstep's ``edges ⋈ state`` then reads the bucketed scan
    with ZERO exchange and ZERO sort on the edge side — only the
    |V|-sized state shuffle moves. At test scale AQE broadcasts the
    state side anyway; at 10^9+ vertices the state stops being
    broadcastable and this is the difference between re-shuffling
    100 TB of edges per superstep and not.

    Storage: nothing stays pinned after the call but the one rolled
    generation the returned ranks read.
    """
    from pyspark.sql import Observation

    from linkgraph.graph import vertices
    from linkgraph.pregel import _degree_setup
    from linkgraph.rolling import _scanned, release

    source, cached = _scanned(edges, "src", "dst")
    out_deg = links = verts = seeded = None
    try:
        if directed:
            g = source
        else:
            g, out_deg, stats = _degree_setup(source)
            n = stats["n"]
        if bucket_table is not None:
            from linkgraph.csr import drop_table_and_location

            spark = edges.sparkSession
            drop_table_and_location(spark, bucket_table)
            (
                g.write.bucketBy(n_buckets, "src")
                .sortBy("src")
                .mode("overwrite")
                .saveAsTable(bucket_table)
            )
            g = spark.table(bucket_table)
        if directed:
            out_deg = g.groupBy("src").agg(F.count("*").alias("outdeg"))
            links = g.join(out_deg, "src")
            links = links if bucket_table is not None else links.cache()
            verts = vertices(source).select(F.col("vid").alias("src")).cache()
            n = verts.count()
            has_dangling = (
                verts.join(out_deg, "src", "left_anti").limit(1).count() > 0
            )
            state = verts
        else:
            state = out_deg
        teleport = (1.0 - damping) / n

        if init_ranks is not None:
            obs = Observation()
            seeded = (
                state.join(
                    init_ranks.select(
                        F.col("vid").alias("src"), F.col("rank").alias("_r0")
                    ),
                    "src",
                    "left",
                )
                .withColumn("rank", F.coalesce(F.col("_r0"), F.lit(1.0 / n)))
                .drop("_r0")
                .observe(obs, F.sum("rank").alias("total"))
                .localCheckpoint()
            )
            state = seeded.withColumn(
                "rank", F.col("rank") / F.lit(obs.get["total"])
            )
        else:
            state = state.withColumn("rank", F.lit(1.0 / n))

        if directed:
            # every reference to an unrolled state re-executes it
            # (messages + missing-vertex union), so roll every round
            checkpoint_every = 1

            def step(ranks: DataFrame) -> DataFrame:
                dangling_term = 0.0
                if has_dangling:
                    dangling_sum = (
                        ranks.join(out_deg, "src", "left_anti")
                        .agg(F.sum("rank"))
                        .first()[0]
                        or 0.0
                    )
                    dangling_term = damping * dangling_sum / n
                base = F.lit(teleport + dangling_term)
                new = links.join(ranks, "src").groupBy(
                    F.col("dst").alias("src")
                ).agg(
                    (base + F.lit(damping) * F.sum(F.col("rank") / F.col("outdeg")))
                    .alias("rank")
                )
                # vertices receiving no messages
                missing = verts.join(new, "src", "left_anti").withColumn("rank", base)
                return new.unionByName(missing)

        else:

            def step(state: DataFrame) -> DataFrame:
                return g.join(state, "src").groupBy(F.col("dst").alias("src")).agg(
                    (
                        F.lit(teleport)
                        + F.lit(damping) * F.sum(F.col("rank") / F.col("outdeg"))
                    ).alias("rank"),
                    F.count("*").alias("outdeg"),
                )

        return _supersteps(state, step, iterations, checkpoint_every, tol)
    finally:
        release(out_deg, links, verts, seeded, cached)


def pagerank_weighted(
    wedges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Edge-weighted PageRank over a canonical weighted undirected
    edge list ``DataFrame[src, dst, weight]`` (src < dst): rank flows
    along each direction proportionally to weight / Σ out-weight —
    the standard weighted-transition generalization (reference runs
    unweighted PR over partitioned graphs; this is the weighted analog
    over the events interaction graph). Symmetrized input ⇒ no
    dangling vertices, and the weight a vertex receives per superstep
    is its Σ out-weight, so the state ``(src, rank, outdeg)`` carries
    Σ weight the way ``pagerank`` carries the degree: one join plus
    one aggregate per superstep. Returns ``DataFrame[vid, rank]``.
    """
    from linkgraph.pregel import _degree_table
    from linkgraph.rolling import _scanned, release

    # the upstream wedges derivation (an events self-join) is
    # expensive: cached, it runs once instead of once per superstep
    source, cached = _scanned(wedges, "src", "dst", "weight")
    out_w = None
    try:
        sym = source.unionByName(
            source.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        out_w, stats = _degree_table(sym, F.sum("weight"))
        n = stats["n"]
        teleport = (1.0 - damping) / n

        def step(state: DataFrame) -> DataFrame:
            return sym.join(state, "src").groupBy(F.col("dst").alias("src")).agg(
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * F.sum(F.col("rank") * F.col("weight") / F.col("outdeg"))
                ).alias("rank"),
                F.sum("weight").alias("outdeg"),
            )

        return _supersteps(
            out_w.withColumn("rank", F.lit(1.0 / n)), step, iterations,
            checkpoint_every,
        )
    finally:
        release(out_w, cached)


def pagerank_personalized(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Personalized PageRank: teleport mass restricted (uniformly) to
    ``seeds`` — r ← (1−d)·e_S + d·Pᵀr from r₀ = e_S. The similarity-
    to-seed-set ranking used for seed expansion / related-item scoring.
    Undirected input is symmetrized ⇒ no dangling mass, and every
    vertex receives flow (each one is some edge's destination), so the
    full vertex set is emitted, like the uniform PR. Same superstep
    shape as ``pagerank``: one join plus one aggregate that also counts
    the next out-degree. Returns ``DataFrame[vid, rank]``."""
    from linkgraph.pregel import _degree_setup
    from linkgraph.rolling import _scanned, release

    source, cached = _scanned(edges, "src", "dst")
    out_deg = None
    try:
        sym, out_deg, _ = _degree_setup(source)
        seed_set = {int(s) for s in seeds}
        e_s = F.when(
            F.col("src").isin(sorted(seed_set)), F.lit(1.0 / len(seed_set))
        ).otherwise(F.lit(0.0))

        def step(state: DataFrame) -> DataFrame:
            flow = sym.join(state, "src").groupBy(F.col("dst").alias("src")).agg(
                (F.lit(damping) * F.sum(F.col("rank") / F.col("outdeg"))).alias(
                    "flow"
                ),
                F.count("*").alias("outdeg"),
            )
            return flow.select(
                "src",
                ((F.lit(1.0 - damping) * e_s) + F.col("flow")).alias("rank"),
                "outdeg",
            )

        return _supersteps(
            out_deg.withColumn("rank", e_s), step, iterations, checkpoint_every
        )
    finally:
        release(out_deg, cached)
