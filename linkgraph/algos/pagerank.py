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
(``linkgraph.graph._degree_table``), and the state starts from that
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
- the loop is ``linkgraph.iterate.iterate``: lineage truncated every
  ``checkpoint_every`` supersteps by a rolling localCheckpoint, or a
  durable snapshot per superstep (``pregel.pagerank_checkpointed``) —
  without it the Catalyst plan doubles per iteration. With ``tol``,
  max |Δrank| against the previous state is computed in each round's
  plan and rides its checkpoint as an Observation.

Storage: an uncached input is cached for the call (so an expensive
derivation upstream runs once, not once per superstep), and every
table a kernel cached or checkpointed is released before it returns,
except the one rolled generation the returned ranks read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _step(sym: DataFrame, teleport: float, damping: float, weighted: bool = False):
    """The undirected superstep with the degree in the state: one
    ``sym ⋈ state`` join and one aggregate that also counts the next
    out-degree (``weighted``: sums the next Σ weight, and rank flows in
    proportion to weight)."""
    share = F.col("rank") / F.col("outdeg")
    if weighted:
        share = F.col("rank") * F.col("weight") / F.col("outdeg")

    def step(state: DataFrame, *_) -> DataFrame:
        return sym.join(state, "src").groupBy(F.col("dst").alias("src")).agg(
            (F.lit(teleport) + F.lit(damping) * F.sum(share)).alias("rank"),
            (F.sum("weight") if weighted else F.count("*")).alias("outdeg"),
        )

    return step


def _ranks(
    start: DataFrame, step, iterations: int, checkpoint_every: int,
    tol: float | None = None, **durable,
) -> DataFrame:
    """``iterate`` a state keyed by ``src``; ``durable`` is its sink
    arguments. With ``tol`` every round checkpoints and the loop stops
    once max |Δrank| < tol: the round's plan joins the previous state,
    so the Δ rides the round's checkpoint."""
    from linkgraph.iterate import iterate

    def until(seen: dict) -> bool:
        return seen["delta"] is not None and seen["delta"] < tol

    watch = None
    if tol is not None:
        # the Δ join reads the previous state: an unrolled state would
        # re-execute per reference
        checkpoint_every = 1
        ranks = step

        def step(state: DataFrame, *_) -> DataFrame:
            return ranks(state).join(
                state.select("src", F.col("rank").alias("_r0")), "src"
            )

        watch = [F.max(F.abs(F.col("rank") - F.col("_r0"))).alias("delta")]

    return iterate(
        start, step, iterations, checkpoint_every, watch, until, **durable
    ).select(F.col("src").alias("vid"), "rank")


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
    ``tol`` set, stops early when max |Δrank| < tol (one extra join in
    each superstep's plan, no extra job).

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

    from linkgraph.graph import _degree_table, symmetrize, vertices
    from linkgraph.rolling import _scanned, release

    source, cached = _scanned(edges, "src", "dst")
    out_deg = links = verts = seeded = None
    try:
        if directed:
            g = source
        else:
            g = symmetrize(source)
            out_deg, stats = _degree_table(g)
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
                    init_ranks.select(F.col("vid").alias("src"), "rank"), "src", "left"
                )
                .withColumn("rank", F.coalesce("rank", F.lit(1.0 / n)))
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

            def step(ranks: DataFrame, *_) -> DataFrame:
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
            step = _step(g, teleport, damping)
        return _ranks(state, step, iterations, checkpoint_every, tol)
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
    from linkgraph.graph import _degree_table
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
        return _ranks(
            out_w.withColumn("rank", F.lit(1.0 / n)),
            _step(sym, (1.0 - damping) / n, damping, weighted=True),
            iterations, checkpoint_every,
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
    from linkgraph.graph import _degree_scope

    seed_set = {int(s) for s in seeds}
    e_s = F.when(
        F.col("src").isin(sorted(seed_set)), F.lit(1.0 / len(seed_set))
    ).otherwise(F.lit(0.0))
    with _degree_scope(edges) as (sym, out_deg, _):
        flow = _step(sym, 0.0, damping)

        def step(state: DataFrame, *_) -> DataFrame:
            return flow(state).withColumn(
                "rank", (F.lit(1.0 - damping) * e_s) + F.col("rank")
            )

        return _ranks(
            out_deg.withColumn("rank", e_s), step, iterations, checkpoint_every
        )


def _checkpointed(
    edges: DataFrame, ckpt, iterations: int, damping: float, resume: bool,
    auto_salt_skew: float | None, n_salts: int,
) -> DataFrame:
    """``linkgraph.pregel.pagerank_checkpointed``: the undirected kernel
    with ``ckpt`` as its sink. Only a salted run builds an edge side
    of its own: the symmetrized edges with each hub destination's
    src-derived ``_salt``, checkpointed, aggregated per (vid, salt) and
    then per vid."""
    from linkgraph.graph import _degree_scope
    from linkgraph.rolling import release

    links = None
    with _degree_scope(edges) as (sym, out_deg, stats):
        n, m2 = stats["n"], stats["m2"]
        teleport = (1.0 - damping) / n
        msg_skew = 0.0 if auto_salt_skew is None else stats["mx"] / (m2 / n)
        salted = auto_salt_skew is not None and msg_skew > auto_salt_skew
        if not salted:
            step = _step(sym, teleport, damping)
        else:
            hubs = out_deg.where(
                F.col("outdeg") > m2 / n * auto_salt_skew
            ).select(F.col("src").alias("dst"), F.lit(True).alias("_hot"))
            links = (
                sym.join(F.broadcast(hubs), "dst", "left")
                .select(
                    "src", "dst",
                    F.when(
                        F.col("_hot").isNotNull(),
                        F.pmod(F.xxhash64("src"), F.lit(n_salts)),
                    ).otherwise(F.lit(0)).cast("int").alias("_salt"),
                )
                .localCheckpoint()
            )

            def step(state: DataFrame, *_) -> DataFrame:
                partial = links.join(state, "src").groupBy(
                    F.col("dst").alias("src"), "_salt"
                ).agg(
                    F.sum(F.col("rank") / F.col("outdeg")).alias("_pc"),
                    F.count("*").alias("_k"),
                )
                return partial.groupBy("src").agg(
                    (F.lit(teleport) + F.lit(damping) * F.sum("_pc")).alias("rank"),
                    F.sum("_k").alias("outdeg"),
                )

        try:
            return _ranks(
                out_deg.withColumn("rank", F.lit(1.0 / n)), step, iterations, 1,
                sink=ckpt, resume=resume,
                counters={"edges_scanned": m2, "messages_sent": m2,
                          "msg_skew": round(msg_skew, 4), "salted": salted},
            )
        finally:
            release(links)
