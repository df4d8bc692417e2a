"""Analytics vs independent oracles (north rule: PageRank allclose
1e-6; components/labels/triangles exact)."""

import numpy as np
import pytest

from linkgraph.algos.cc import connected_components
from linkgraph.algos.lpa import label_propagation
from linkgraph.algos.pagerank import pagerank
from linkgraph.algos.triangles import triangle_counts, triangle_list, triangle_total
from linkgraph.oracle.numpy_ref import (
    components_py,
    lpa_py,
    pagerank_np,
    triangles_py,
)
from linkgraph.synth import graph_edges

SHAPES = ["triangle3", "star_hub", "two_cliques_bridge", "path_chain", "disconnected"]


@pytest.mark.parametrize("shape", SHAPES + ["powerlaw_ba"])
def test_pagerank_allclose(spark, edges_df, shape):
    edges = graph_edges(shape, n=200, seed=7)
    got = {
        r["vid"]: r["rank"]
        for r in pagerank(edges_df(edges), iterations=15).collect()
    }
    want = pagerank_np(edges, iterations=15)
    assert set(got) == set(want)
    assert np.allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)], atol=1e-6
    )


def test_pagerank_directed_dangling(spark, edges_df):
    """Directed chain + sink: dangling mass must be redistributed
    uniformly (north-star PageRank semantics)."""
    edges = [(0, 1), (1, 2), (2, 3), (4, 3)]  # 3 is a sink
    got = {
        r["vid"]: r["rank"]
        for r in pagerank(edges_df(edges), iterations=25, directed=True).collect()
    }
    want = pagerank_np(edges, iterations=25, directed=True)
    assert np.allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)], atol=1e-6
    )
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_convergence_tol(spark, edges_df):
    edges = graph_edges("two_cliques_bridge")
    r1 = {
        r["vid"]: r["rank"]
        for r in pagerank(edges_df(edges), iterations=60, tol=1e-10).collect()
    }
    want = pagerank_np(edges, iterations=100)
    assert np.allclose(
        [r1[v] for v in sorted(r1)], [want[v] for v in sorted(want)], atol=1e-6
    )


@pytest.mark.parametrize("shape", SHAPES)
def test_components_exact(spark, edges_df, shape):
    edges = graph_edges(shape)
    got = {
        r["vid"]: r["component"]
        for r in connected_components(edges_df(edges)).collect()
    }
    assert got == components_py(edges)


def test_components_pointer_jumping_long_chain(spark, edges_df):
    """Pointer jumping converges a 100-vertex path in far fewer than
    diameter supersteps."""
    edges = graph_edges("path_chain", n=100)
    got = {
        r["vid"]: r["component"]
        for r in connected_components(
            edges_df(edges), max_iterations=12, pointer_jumping=True
        ).collect()
    }
    assert got == components_py(edges)


def test_components_long_chain_default_arguments(spark, edges_df):
    """With default arguments a 1000-vertex path converges exactly:
    hash-min rounds switch to pointer jumping after round ⌈log2 n⌉."""
    edges = graph_edges("path_chain", n=1000)
    got = {
        r["vid"]: r["component"]
        for r in connected_components(edges_df(edges)).collect()
    }
    assert got == components_py(edges)


def test_cc_warns_when_rounds_run_out(spark, edges_df):
    """Convergence mode says so when max_iterations ends the loop while
    labels still change: the result is then not the components."""
    e = edges_df(graph_edges("path_chain", n=100))
    with pytest.warns(
        UserWarning, match=r"max_iterations=3 rounds .* still changed \d+ labels"
    ):
        connected_components(e, max_iterations=3)


@pytest.mark.parametrize("shape", ["triangle3", "two_cliques_bridge", "star_hub"])
def test_lpa_matches_oracle(spark, edges_df, shape):
    edges = graph_edges(shape)
    got = {
        r["vid"]: r["label"]
        for r in label_propagation(edges_df(edges), iterations=6).collect()
    }
    assert got == lpa_py(edges, iterations=6)


def _brute_force_triangles(edges) -> set[tuple[int, int, int]]:
    """Every triangle as a sorted vertex triple, from the edge set."""
    nbrs: dict[int, set[int]] = {}
    for s, t in edges:
        nbrs.setdefault(s, set()).add(t)
        nbrs.setdefault(t, set()).add(s)
    return {
        (a, b, c)
        for a, b in {(min(s, t), max(s, t)) for s, t in edges}
        for c in nbrs[a] & nbrs[b]
        if c > b
    }


@pytest.mark.parametrize("shape", SHAPES + ["powerlaw_ba"])
@pytest.mark.parametrize("oriented", [True, False])
def test_triangles_exact(spark, edges_df, shape, oriented):
    from linkgraph.algos.truss import edge_support

    edges = graph_edges(shape, n=150, seed=3)
    per, total = triangles_py(edges)
    e = edges_df(edges)
    got = {
        r["vid"]: r["triangles"]
        for r in triangle_counts(e, degree_oriented=oriented).collect()
    }
    assert got == per
    assert (
        triangle_total(e, degree_oriented=oriented).first()["n_triangles"] == total
    )
    listed = [
        tuple(sorted(r)) for r in triangle_list(e, degree_oriented=oriented).collect()
    ]
    want = _brute_force_triangles(edges)
    assert len(listed) == len(want) == total
    assert set(listed) == want
    if oriented:  # edge_support has no orientation switch
        supp: dict[tuple[int, int], int] = {}
        for a, b, c in want:
            for pair in ((a, b), (a, c), (b, c)):
                supp[pair] = supp.get(pair, 0) + 1
        got_supp = {(r["src"], r["dst"]): r["supp"] for r in edge_support(e).collect()}
        assert got_supp == supp


def test_two_cliques_triangle_count(spark, edges_df):
    """Two K5s share no triangles with the bridge: 2 * C(5,3) = 20."""
    edges = graph_edges("two_cliques_bridge")
    assert triangle_total(edges_df(edges)).first()["n_triangles"] == 20


def test_pagerank_bucketed_join_no_edge_exchange(spark, edges_df):
    """The bucketed links table makes the per-superstep join read the
    edge side with ZERO exchange (only the ranks side shuffles) — the
    100 TB shape — while staying numerically identical."""
    from pyspark.sql import functions as F

    from linkgraph.graph import symmetrize, vertices

    edges = graph_edges("powerlaw_ba", n=150, m=2, seed=3)
    e = edges_df(edges)
    a = {r["vid"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    b = {
        r["vid"]: r["rank"]
        for r in pagerank(
            e, iterations=4, bucket_table="t_pr_links", n_buckets=4
        ).collect()
    }
    assert np.allclose(
        [a[v] for v in sorted(a)], [b[v] for v in sorted(b)], atol=1e-12
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # flatten ranks lineage so the plans contain only join exchanges
        ranks = (
            vertices(e).withColumn("rank", F.lit(1.0)).localCheckpoint(eager=True)
        )
        bucketed = spark.table("t_pr_links")
        plan_b = (
            bucketed.join(ranks, bucketed["src"] == ranks["vid"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        sym = symmetrize(e)
        links = sym.join(
            sym.groupBy("src").agg(F.count("*").alias("outdeg")), "src"
        )
        plan_p = (
            links.join(ranks, links["src"] == ranks["vid"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan_b.count("Exchange") == 1  # ranks side only
        assert plan_b.count("Exchange") < plan_p.count("Exchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_pr_links")


def test_pagerank_warm_start_converges_faster(spark, edges_df):
    """The incremental-edges second half: after new edges arrive,
    warm-starting from the old graph's converged ranks gets closer to
    the new fixpoint in K supersteps than a cold uniform start does —
    and warm-start from the EXACT fixpoint stays at it."""
    rng = np.random.default_rng(3)
    base = sorted(
        {(int(a), int(b)) for a, b in rng.integers(0, 60, (180, 2)) if a != b}
    )
    extra = sorted(
        {(int(a), int(b)) for a, b in rng.integers(0, 70, (40, 2)) if a != b}
        - set(base)
    )
    e_old = edges_df(base)
    e_new = edges_df(base + extra)
    target = {
        r["vid"]: r["rank"] for r in pagerank(e_new, iterations=40).collect()
    }
    old = pagerank(e_old, iterations=40)
    warm = {
        r["vid"]: r["rank"]
        for r in pagerank(e_new, iterations=5, init_ranks=old).collect()
    }
    cold = {
        r["vid"]: r["rank"] for r in pagerank(e_new, iterations=5).collect()
    }
    l1_warm = sum(abs(warm[v] - target[v]) for v in target)
    l1_cold = sum(abs(cold[v] - target[v]) for v in target)
    assert l1_warm < l1_cold
    # warm-starting from the fixpoint itself is a fixpoint step
    again = {
        r["vid"]: r["rank"]
        for r in pagerank(
            e_new, iterations=1, init_ranks=pagerank(e_new, iterations=40)
        ).collect()
    }
    assert max(abs(again[v] - target[v]) for v in target) < 1e-9


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pagerank_kernels_release_storage(spark, edges_df):
    """Every join PageRank mode releases its degree table, its cached
    input copy and every rolled generation but the one it returns:
    after a call the persisted-RDD count is at most one above its
    start, and the returned ranks are still readable."""
    from linkgraph.algos.pagerank import pagerank_personalized, pagerank_weighted

    edges = graph_edges("powerlaw_ba", n=120, m=2, seed=5)
    e = edges_df(edges)
    w = spark.createDataFrame(
        [(s, t, 1 + (s + t) % 3) for s, t in edges], "src long, dst long, weight long"
    )
    warm = pagerank(e, iterations=2)
    runs = {
        "undirected": lambda: pagerank(e, iterations=4),
        "directed": lambda: pagerank(e, iterations=4, directed=True),
        "tol": lambda: pagerank(e, iterations=30, tol=1e-8),
        "init_ranks": lambda: pagerank(e, iterations=4, init_ranks=warm),
        "bucket_table": lambda: pagerank(
            e, iterations=4, bucket_table="t_pr_release", n_buckets=4
        ),
        "weighted": lambda: pagerank_weighted(w, iterations=3),
        "weighted-0": lambda: pagerank_weighted(w, iterations=0),
        "personalized": lambda: pagerank_personalized(e, [1, 2], iterations=3),
        "personalized-0": lambda: pagerank_personalized(e, [1, 2], iterations=0),
        "tol-0": lambda: pagerank(e, iterations=0, tol=1e-8),
    }
    try:
        for name, run in runs.items():
            before = _persisted(spark)
            out = run()
            assert _persisted(spark) <= before + 1, name
            assert out.count() == 120, name
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pr_release")


def test_pagerank_zero_iterations_stays_readable(spark, edges_df):
    """``iterations=0`` returns the uniform 1/n start, and it is still
    readable after the call has released its degree table."""
    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5))
    for kw in ({}, {"directed": True}):
        before = _persisted(spark)
        ranks = pagerank(e, iterations=0, **kw)
        assert _persisted(spark) <= before + 1
        got = ranks.collect()
        assert len(got) == 120
        assert all(r["rank"] == 1.0 / 120 for r in got)


# Jobs join PageRank launches on a cached input in the test session
# (local[4], 8 shuffle partitions): a 3-round segment ends in one rolled
# checkpoint (per round the state's broadcast and the message shuffle,
# then the checkpoint write), and setup is the out-degree checkpoint
JOIN_PR_SEGMENT_JOBS = 7
JOIN_PR_SETUP_JOBS = 2


def test_join_pagerank_job_count_pinned(spark, edges_df):
    """One 3-round segment costs JOIN_PR_SEGMENT_JOBS jobs and setup at
    most JOIN_PR_SETUP_JOBS: a change that adds a job to either must
    say why."""
    sc = spark.sparkContext
    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5)).cache()
    e.count()

    def jobs(iterations: int) -> int:
        group = f"join-pr-jobs-{iterations}"
        sc.setJobGroup(group, "join pagerank job count")
        try:
            pagerank(e, iterations=iterations, checkpoint_every=3)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    three, six, nine = jobs(3), jobs(6), jobs(9)
    e.unpersist()
    assert three - JOIN_PR_SEGMENT_JOBS <= JOIN_PR_SETUP_JOBS
    assert six - three == JOIN_PR_SEGMENT_JOBS
    assert nine - six == JOIN_PR_SEGMENT_JOBS


def test_cc_warm_start_incremental_edges(spark, edges_df):
    """Warm-started CC over the grown graph equals a cold converged
    run (new edges only merge components; min of old-component ids
    over a new component IS its min vid), and a bridge merge resolves
    in ONE warm round where the cold run needs the chain diameter."""
    # two long chains, then a bridge edge merges them
    a = [(i, i + 1) for i in range(0, 24)]
    b = [(i, i + 1) for i in range(100, 124)]
    bridge = [(24, 100)]
    e_old = edges_df(a + b)
    e_new = edges_df(a + b + bridge)
    old = connected_components(e_old, max_iterations=60)
    warm = {
        r["vid"]: r["component"]
        for r in connected_components(
            e_new, fixed_iterations=1, pointer_jumping=True, init_labels=old
        ).collect()
    }
    cold = {
        r["vid"]: r["component"]
        for r in connected_components(e_new, max_iterations=80).collect()
    }
    assert warm == cold  # one warm round resolves the merge
    assert set(warm.values()) == {0}


def test_cc_lpa_release_storage(spark, edges_df):
    """CC in every mode, and both LPAs, release every rolled generation but
    the returned one and any cache they made: after a call the
    persisted-RDD count is at most one above its start, and the result
    is still readable."""
    from linkgraph.algos.lpa import label_propagation_weighted

    edges = graph_edges("powerlaw_ba", n=120, m=2, seed=5)
    e = edges_df(edges)
    w = spark.createDataFrame(
        [(s, t, 1 + (s + t) % 3) for s, t in edges], "src long, dst long, weight long"
    )
    warm = connected_components(e, fixed_iterations=1)
    runs = {
        "default": lambda: connected_components(e),
        "fixed_iterations": lambda: connected_components(e, fixed_iterations=3),
        "init_labels": lambda: connected_components(e, init_labels=warm),
        "pointer_jumping": lambda: connected_components(e, pointer_jumping=True),
        "default_0": lambda: connected_components(e, max_iterations=0),
        "fixed_0": lambda: connected_components(e, fixed_iterations=0),
        "init_labels_0": lambda: connected_components(
            e, fixed_iterations=0, init_labels=warm
        ),
        "lpa_0": lambda: label_propagation(e, iterations=0),
        "lpa_1": lambda: label_propagation(e, iterations=1),
        "lpa_4": lambda: label_propagation(e, iterations=4),
        "lpa_weighted": lambda: label_propagation_weighted(w, iterations=2),
        "lpa_weighted_0": lambda: label_propagation_weighted(w, iterations=0),
    }
    for name, run in runs.items():
        before = _persisted(spark)
        out = run()
        assert _persisted(spark) <= before + 1, name
        assert out.count() == 120, name


# Jobs connected_components launches on a cached input in the test
# session (local[4], 8 shuffle partitions), its result forced by a noop
# write: a round after the first is CC_ROUND_JOBS, and round 1, which
# joins nothing, costs at most CC_FIRST_ROUND_JOBS with the write
CC_ROUND_JOBS = 3
CC_FIRST_ROUND_JOBS = 3


def test_cc_job_count_pinned(spark, edges_df):
    """A change that adds a job to a CC round must say why."""
    sc = spark.sparkContext
    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5)).cache()
    e.count()

    def jobs(rounds: int) -> int:
        group = f"cc-jobs-{rounds}"
        sc.setJobGroup(group, "connected_components job count")
        try:
            out = connected_components(e, fixed_iterations=rounds)
            out.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one, two, three, four = jobs(1), jobs(2), jobs(3), jobs(4)
    e.unpersist()
    assert one <= CC_FIRST_ROUND_JOBS
    assert three - two == CC_ROUND_JOBS
    assert four - three == CC_ROUND_JOBS


def test_triangle_family_releases_storage(spark, edges_df):
    """The triangle family releases its checkpointed adjacency:
    ``triangle_total`` and ``transitivity`` leave no new persisted RDD,
    and the kernels that return a checkpointed result leave at most
    one: the result itself, still readable, which ``rolling.release``
    frees."""
    from linkgraph.algos.clustering import clustering_coefficients
    from linkgraph.algos.triangles import transitivity
    from linkgraph.algos.truss import k_truss
    from linkgraph.rolling import release

    edges = graph_edges("powerlaw_ba", n=120, m=2, seed=5)
    e = edges_df(edges)
    n = len({v for edge in edges for v in edge})
    n_tri = triangles_py(edges)[1]
    runs = {
        "triangle_total": (0, lambda: triangle_total(e), 1),
        "transitivity": (0, lambda: transitivity(e), 1),
        "triangle_counts": (1, lambda: triangle_counts(e), n),
        "clustering_coefficients": (1, lambda: clustering_coefficients(e), n),
        "triangle_list": (1, lambda: triangle_list(e), n_tri),
        "k_truss": (1, lambda: k_truss(e, k=3, fixed_rounds=2), None),
        "k_truss_converge": (1, lambda: k_truss(e, k=4), None),
    }
    # RDD ids, not counts: an earlier test's unreferenced checkpoint may
    # be cleaned up by the JVM's garbage collection during a call
    def persisted_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for name, (held, run, rows) in runs.items():
        before = persisted_ids()
        out = run()
        left = persisted_ids() - before
        assert len(left) <= held, name
        got = out.count()
        assert rows is None or got == rows, name
        release(out)
        assert not persisted_ids() & left, name


def test_triangle_job_count_pinned(spark, edges_df):
    """A change that adds a job to the triangle family must say why."""
    from linkgraph.algos.triangles import TRI_COUNT_JOBS, TRI_TOTAL_JOBS

    sc = spark.sparkContext
    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5)).cache()
    e.count()

    def jobs(name: str, run) -> int:
        group = f"triangle-jobs-{name}"
        sc.setJobGroup(group, "triangle job count")
        try:
            run()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    total = jobs("total", lambda: triangle_total(e).collect())
    counts = jobs(
        "counts",
        lambda: triangle_counts(e).write.format("noop").mode("overwrite").save(),
    )
    e.unpersist()
    assert total <= TRI_TOTAL_JOBS
    assert counts <= TRI_COUNT_JOBS


def _frontier_graphs(spark, edges_df):
    """The kernel inputs the frontier-family tests share: the ``powerlaw_ba``
    edges, the same edges weighted, and oriented ``src < dst`` for
    ``topo_levels``."""
    edges = graph_edges("powerlaw_ba", n=120, m=2, seed=5)
    e = edges_df(edges)
    w = spark.createDataFrame(
        [(s, t, 1 + (s + t) % 3) for s, t in edges], "src long, dst long, weight long"
    )
    dag = edges_df([(min(s, t), max(s, t)) for s, t in edges])
    return e, w, dag


def _scc_graph(edges_df):
    """The ``powerlaw_ba`` edges plus every third one reversed: a
    directed graph with cycles, so SCC runs both of its phases."""
    edges = graph_edges("powerlaw_ba", n=120, m=2, seed=5)
    return edges_df(edges + [(t, s) for s, t in edges[::3]])


def test_frontier_kernels_release_storage(spark, edges_df):
    """The frontier kernels, k-core, both walks and HITS release their
    edge-side caches and every rolled generation but the one they return:
    after a call the persisted-RDD count is at most one above its start,
    and the result is still readable. So do the peel and label kernels:
    MIS, coloring, SCC and landmark betweenness."""
    from linkgraph.algos.betweenness import betweenness_landmark
    from linkgraph.algos.bfs import (
        bfs_distances,
        harmonic_centrality,
        landmark_distances,
    )
    from linkgraph.algos.dag import topo_levels
    from linkgraph.algos.hits import hits
    from linkgraph.algos.kcore import k_core
    from linkgraph.algos.mis import greedy_coloring, maximal_independent_set
    from linkgraph.algos.scc import strongly_connected_components
    from linkgraph.algos.sssp import sssp_weighted
    from linkgraph.algos.walks import node2vec_walks, random_walks

    e, w, dag = _frontier_graphs(spark, edges_df)
    directed = _scc_graph(edges_df)
    runs = {
        "bfs_fixed": (lambda: bfs_distances(e, [1, 7], fixed_iterations=3), None),
        "bfs_converged": (lambda: bfs_distances(e, [1, 7]), 120),
        "bfs_0": (lambda: bfs_distances(e, [1, 7], fixed_iterations=0), 2),
        "landmark_distances": (lambda: landmark_distances(e, [1, 7, 30]), 360),
        "harmonic_centrality": (lambda: harmonic_centrality(e, [1, 7, 30]), 120),
        "sssp_weighted": (lambda: sssp_weighted(w, [1, 7]), 120),
        "topo_levels": (lambda: topo_levels(dag, max_depth=3), 120),
        "k_core_fixed": (lambda: k_core(e, k=2, fixed_iterations=2), 120),
        "k_core_converged": (lambda: k_core(e, k=2), 120),
        "random_walks": (lambda: random_walks(e, walk_len=2), 360),
        "random_walks_0": (lambda: random_walks(e, walk_len=0), 120),
        "node2vec_walks": (lambda: node2vec_walks(e, walk_len=2), 360),
        "hits": (lambda: hits(e, iterations=2), 120),
        "mis": (lambda: maximal_independent_set(e), 70),
        "mis_partial": (
            lambda: maximal_independent_set(e, fixed_iterations=2, allow_partial=True),
            68,
        ),
        "greedy_coloring": (lambda: greedy_coloring(e), 120),
        "scc": (lambda: strongly_connected_components(directed), 120),
        "betweenness_landmark": (
            lambda: betweenness_landmark(e, [1, 7, 30], depth=4), 120
        ),
    }
    for name, (run, rows) in runs.items():
        before = _persisted(spark)
        out = run()
        assert _persisted(spark) <= before + 1, name
        got = out.count()
        assert rows is None or got == rows, name


# Jobs per round in the test session (local[4], 8 shuffle partitions) on
# a cached input. A relaxation round (BFS, landmark BFS, SSSP, topo
# levels): the frontier-to-darts join, the candidate aggregate, the fold
# into the state and the round's one checkpoint. A random-walk step: the
# darts join, the argmin aggregate and the checkpoint; node2vec's
# second-order bias joins a second edge-side table, one job more. A
# k-core peel: two semi-joins, the degree count and the checkpoint.
RELAX_ROUND_JOBS = 4
WALK_STEP_JOBS = 3
NODE2VEC_STEP_JOBS = WALK_STEP_JOBS + 1
KCORE_ROUND_JOBS = 5
# A MIS or coloring round (on _priority_path, whose rounds all have the
# same shape): the local-min aggregate, the winners' checkpoint, the
# active set's checkpoint and its emptiness check; MIS also finds the
# winners' neighbours. A k-truss peel builds and checkpoints
# the surviving edges' degree-oriented adjacency, counts the support
# and checkpoints the survivors. SCC: one whole call on _scc_graph.
MIS_ROUND_JOBS = 14
COLORING_ROUND_JOBS = 11
KTRUSS_ROUND_JOBS = 13
SCC_CALL_JOBS = 182


def _round_jobs(spark, name: str, run) -> list[int]:
    """Jobs ``run(r)`` launches for r = 2, 3, 4, as r-to-r differences."""
    sc = spark.sparkContext

    def jobs(r: int) -> int:
        group = f"round-jobs-{name}-{r}"
        sc.setJobGroup(group, f"{name} job count")
        try:
            run(r)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    two, three, four = jobs(2), jobs(3), jobs(4)
    return [three - two, four - three]


@pytest.mark.parametrize("kernel", ["bfs", "landmark", "sssp", "topo"])
def test_relax_round_job_count_pinned(spark, edges_df, kernel):
    """A relaxation round costs RELAX_ROUND_JOBS jobs on every kernel
    that shares the step: a change that adds one must say why."""
    from linkgraph.algos.bfs import bfs_distances, landmark_distances
    from linkgraph.algos.dag import topo_levels
    from linkgraph.algos.sssp import sssp_weighted

    e, w, dag = (df.cache() for df in _frontier_graphs(spark, edges_df))
    for df in (e, w, dag):
        df.count()
    runs = {
        "bfs": lambda r: bfs_distances(e, [1, 7], fixed_iterations=r),
        "landmark": lambda r: landmark_distances(e, [1, 7, 30], fixed_iterations=r),
        "sssp": lambda r: sssp_weighted(w, [1, 7], fixed_iterations=r),
        "topo": lambda r: topo_levels(dag, max_depth=r),
    }
    try:
        assert _round_jobs(spark, kernel, runs[kernel]) == [RELAX_ROUND_JOBS] * 2
    finally:
        for df in (e, w, dag):
            df.unpersist()


def test_walk_and_k_core_round_job_count_pinned(spark, edges_df):
    """A walk step costs WALK_STEP_JOBS (node2vec NODE2VEC_STEP_JOBS)
    and a k-core peel KCORE_ROUND_JOBS: a change that adds a job to
    either must say why."""
    from linkgraph.algos.kcore import k_core
    from linkgraph.algos.walks import node2vec_walks, random_walks

    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5)).cache()
    e.count()
    try:
        walks = _round_jobs(spark, "walks", lambda r: random_walks(e, walk_len=r))
        n2v = _round_jobs(spark, "node2vec", lambda r: node2vec_walks(e, walk_len=r))
        peel = _round_jobs(
            spark, "k_core", lambda r: k_core(e, k=3, fixed_iterations=r)
        )
    finally:
        e.unpersist()
    assert walks == [WALK_STEP_JOBS] * 2
    assert n2v == [NODE2VEC_STEP_JOBS] * 2
    assert peel == [KCORE_ROUND_JOBS] * 2


def _priority_path(n: int = 40, seed: int = 985) -> list[tuple[int, int]]:
    """A path through 0..n-1 in falling ``mis._priority`` order: each
    local-min round has one winner, the path's last vertex, so MIS and
    coloring run about n/2 and n rounds of the same shape."""
    import hashlib

    def h(v: int) -> int:
        return int(hashlib.md5(f"{v}:{seed}".encode()).hexdigest()[:15], 16)

    order = sorted(range(n), key=h, reverse=True)
    return list(zip(order, order[1:]))


def test_peel_and_label_job_counts_pinned(spark, edges_df):
    """A MIS round costs MIS_ROUND_JOBS, a coloring round
    COLORING_ROUND_JOBS, a k-truss peel KTRUSS_ROUND_JOBS and an SCC
    call at most SCC_CALL_JOBS: a change that adds a job must say why."""
    from linkgraph.algos.mis import greedy_coloring, maximal_independent_set
    from linkgraph.algos.scc import strongly_connected_components
    from linkgraph.algos.truss import k_truss

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5)).cache()
    path = edges_df(_priority_path()).cache()
    directed = _scc_graph(edges_df).cache()
    for df in (e, path, directed):
        df.count()
    sc = spark.sparkContext
    try:
        mis = _round_jobs(
            spark, "mis",
            lambda r: noop(
                maximal_independent_set(path, fixed_iterations=r, allow_partial=True)
            ),
        )
        coloring = _round_jobs(
            spark, "coloring",
            lambda r: noop(
                greedy_coloring(path, fixed_iterations=r, allow_partial=True)
            ),
        )
        truss = _round_jobs(
            spark, "k_truss", lambda r: noop(k_truss(e, k=3, fixed_rounds=r))
        )
        sc.setJobGroup("scc-call-jobs", "scc job count")
        try:
            noop(strongly_connected_components(directed))
        finally:
            sc.setJobGroup(None, None)
        scc = len(sc.statusTracker().getJobIdsForGroup("scc-call-jobs"))
    finally:
        for df in (e, path, directed):
            df.unpersist()
    assert mis == [MIS_ROUND_JOBS] * 2
    assert coloring == [COLORING_ROUND_JOBS] * 2
    assert truss == [KTRUSS_ROUND_JOBS] * 2
    assert scc <= SCC_CALL_JOBS, scc


def test_k_core_clique_with_tail(spark, edges_df):
    """A 5-clique with a pendant chain: the 3-core is exactly the
    clique (in-core degree 4 each); the chain peels away by CASCADE
    (each removal drops the next vertex below k) — the property that
    distinguishes k-core from a one-shot degree filter."""
    from linkgraph.algos.kcore import k_core

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12)]
    got = {
        r["vid"]: r["core_degree"]
        for r in k_core(edges_df(clique + chain), k=3).collect()
    }
    assert got == {v: 4 for v in range(5)}
    # one-shot filter would KEEP 10 (degree 2 < 3? no — 10 has degree 2)
    # cascade check: vertex 4 has degree 5 initially, still in core
    # with in-core degree 4 after the chain peels


def test_k_core_fixed_equals_converged(spark, edges_df):
    """fixed_iterations beyond the peel depth equals the converged
    core (the driver-gate configuration's safety property)."""
    from linkgraph.algos.kcore import k_core

    clique = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    tail = [(5, 20), (20, 21), (21, 22), (22, 23)]
    e = edges_df(clique + tail)
    conv = {(r["vid"], r["core_degree"]) for r in k_core(e, k=4).collect()}
    fixed = {
        (r["vid"], r["core_degree"])
        for r in k_core(e, k=4, fixed_iterations=8).collect()
    }
    assert conv == fixed


def test_adamic_adar_hand_computed(spark, edges_df):
    """Path u-z-w plus a second shared neighbor: score(1,3) =
    1/ln(deg(2)) + 1/ln(deg(4)); adjacent pairs are excluded."""
    import math

    from linkgraph.algos.linkpred import adamic_adar_topk

    # 1-2, 2-3, 1-4, 4-3, and 2-4 adjacency; candidates include (1,3)
    e = edges_df([(1, 2), (2, 3), (1, 4), (3, 4), (2, 4)])
    got = {(r["u"], r["w"]): r["aa_score"] for r in adamic_adar_topk(e, top=10).collect()}
    # deg: 1->2, 2->3, 3->2, 4->3
    want_13 = round(1 / math.log(3) + 1 / math.log(3), 6)  # via 2 and 4
    assert got[(1, 3)] == want_13
    assert (1, 2) not in got  # existing edge excluded
    assert (2, 4) not in got  # existing edge excluded


def test_adamic_adar_center_cap_excludes_hub(spark, edges_df):
    """A hub center above max_center_degree contributes no wedges —
    the 100 TB blowup guard is semantic, not just a speed knob."""
    from linkgraph.algos.linkpred import adamic_adar_topk

    hub = [(100, i) for i in range(20)]  # hub degree 20
    got = adamic_adar_topk(edges_df(hub), top=50, max_center_degree=10).collect()
    assert got == []  # only possible centers run through the hub


def test_assortativity_sign_on_star_vs_clique(spark, edges_df):
    """A star is maximally disassortative (corr = -1: every dart pairs
    the hub's high degree with a leaf's 1); a clique has zero degree
    variance (corr undefined -> null)."""
    from linkgraph.queries import q_assortativity  # noqa: F401  (shape ref)
    from linkgraph.graph import degrees, symmetrize
    from pyspark.sql import functions as F

    def assort(e):
        deg = degrees(e)
        sym = symmetrize(e)
        ds = deg.select(F.col("vid").alias("src"), F.col("degree").alias("d_src"))
        dd = deg.select(F.col("vid").alias("dst"), F.col("degree").alias("d_dst"))
        return (
            sym.join(ds, "src").join(dd, "dst")
            .agg(
                F.round(
                    F.try_divide(
                        F.covar_samp("d_src", "d_dst"),
                        F.stddev_samp("d_src") * F.stddev_samp("d_dst"),
                    ),
                    6,
                ).alias("a")
            )
            .first()["a"]
        )

    star = edges_df([(0, i) for i in range(1, 8)])
    assert assort(star) == -1.0
    clique = edges_df([(a, b) for a in range(4) for b in range(a + 1, 4)])
    assert assort(clique) is None  # zero variance


def test_k_core_rejects_zero_rounds(spark, edges_df):
    import pytest as _pytest

    from linkgraph.algos.kcore import k_core

    with _pytest.raises(ValueError, match="at least one peel round"):
        k_core(edges_df([(0, 1)]), k=1, fixed_iterations=0)


def test_random_walks_deterministic_and_valid(spark, edges_df):
    """Walks are reproducible, every step follows an actual edge, and
    each start vertex yields exactly one position per step."""
    from linkgraph.algos.walks import random_walks

    edges = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)]
    e = edges_df(edges)
    rows = random_walks(e, walk_len=3).collect()
    a = {(r["start_vid"], r["step"]): r["vid"] for r in rows}
    b = {
        (r["start_vid"], r["step"]): r["vid"]
        for r in random_walks(e, walk_len=3).collect()
    }
    assert a == b  # deterministic
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    n = len(nbrs)
    assert len(a) == n * 4  # steps 0..3 for every start
    for (s0, step), v in a.items():
        if step == 0:
            assert v == s0
        else:
            assert v in nbrs[a[(s0, step - 1)]]  # walks follow edges
    # a different seed takes at least one different turn
    c = {
        (r["start_vid"], r["step"]): r["vid"]
        for r in random_walks(e, walk_len=3, seed=7).collect()
    }
    assert c != a


def test_bfs_distances_hand_computed(spark, edges_df):
    """Path + branch: exact distances; unreachable component absent;
    multi-source takes the closer source; convergence mode equals the
    fixed-round run."""
    from linkgraph.algos.bfs import bfs_distances

    edges = [(0, 1), (1, 2), (2, 3), (1, 4), (10, 11)]
    e = edges_df(edges)
    got = {
        r["vid"]: r["dist"] for r in bfs_distances(e, sources=[0]).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 2}  # 10,11 unreached
    multi = {
        r["vid"]: r["dist"]
        for r in bfs_distances(e, sources=[0, 3]).collect()
    }
    assert multi == {0: 0, 3: 0, 1: 1, 2: 1, 4: 2}
    fixed = {
        r["vid"]: r["dist"]
        for r in bfs_distances(e, sources=[0], fixed_iterations=8).collect()
    }
    assert fixed == got


def test_dense_vertex_ids_rank_and_partition_invariance(spark, edges_df):
    """idx is the 0-based sorted rank of vid; output is identical for
    different n_parts (the range cuts must not leak into the result),
    which is what lets the distributed path stand in for the logical
    global row_number."""
    from linkgraph.graph import dense_vertex_ids

    rng = np.random.default_rng(5)
    vids = sorted({int(x) for x in rng.integers(0, 10_000, 300)})
    edges = [(vids[i], vids[i + 1]) for i in range(len(vids) - 1)]
    e = edges_df(edges)
    got4 = {r["vid"]: r["idx"] for r in dense_vertex_ids(e, n_parts=4).collect()}
    got17 = {r["vid"]: r["idx"] for r in dense_vertex_ids(e, n_parts=17).collect()}
    want = {v: i for i, v in enumerate(sorted(vids))}
    assert got4 == want
    assert got17 == want


def test_negative_samples_invariants(spark, edges_df):
    """No sampled pair is an existing edge or a self-loop; at most
    n_neg per vertex; deterministic; proposal order respected (rnk is
    a contiguous 1..k prefix)."""
    from linkgraph.algos.linkpred import negative_samples

    edges = [(i, (i + 1) % 40) for i in range(40)] + [(0, 20), (5, 25)]
    e = edges_df(edges)
    rows = negative_samples(e, n_neg=2, n_prop=8).collect()
    existing = set()
    for u, v in edges:
        existing.add((u, v))
        existing.add((v, u))
    per_u: dict[int, list[int]] = {}
    for r in rows:
        assert (r["u"], r["neg_vid"]) not in existing
        assert r["u"] != r["neg_vid"]
        per_u.setdefault(r["u"], []).append(r["rnk"])
    for u, rks in per_u.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 2
    again = negative_samples(e, n_neg=2, n_prop=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_random_walks_star_hub_partial_agg(spark, edges_df):
    """A hub's fan-out must collapse map-side: the step argmin is a
    groupBy min_by whose physical plan carries a partial_min_by stage
    (window-based argmin would serialize the hub's whole adjacency
    into one task). Winner matches the brute-force md5 argmin."""
    import hashlib

    from linkgraph.algos.walks import random_walks

    n_leaves = 500
    e = edges_df([(0, i) for i in range(1, n_leaves + 1)])
    plans: list[str] = []
    rows = random_walks(e, walk_len=1, step_plans=plans).collect()
    assert len(plans) == 1
    assert "partial_min_by" in plans[0]  # map-side combine present

    def h(v, s, u, seed=985):
        return int(
            hashlib.md5(f"{v}:{s}:{u}:{seed}".encode()).hexdigest()[:8], 16
        )

    expect_from_hub = min(
        range(1, n_leaves + 1), key=lambda u: (h(0, 1, u), u)
    )
    got = {(r["start_vid"], r["step"]): r["vid"] for r in rows}
    assert got[(0, 1)] == expect_from_hub
    for leaf in (1, n_leaves):
        assert got[(leaf, 1)] == 0  # leaves can only walk to the hub


def test_bfs_frontier_shrinks_on_chain(spark, edges_df):
    """Frontier-delta BFS: on a 20-vertex path from source 0 every
    round's frontier is exactly one vertex (never the whole reached
    set), and the empty frontier ends the loop; distances exact."""
    from linkgraph.algos.bfs import bfs_distances

    n = 20
    e = edges_df([(i, i + 1) for i in range(n - 1)])
    counts: list[int] = []
    got = {
        r["vid"]: r["dist"]
        for r in bfs_distances(
            e, sources=[0], max_iterations=30, frontier_counts=counts
        ).collect()
    }
    assert got == {i: i for i in range(n)}
    # counts[0] is the seed set; rounds then reach one new vertex each
    assert counts[0] == 1
    assert counts[1:] == [1] * (n - 1) + [0]  # |frontier| ≪ |reached|


def test_clustering_coefficients_hand_computed(spark, edges_df):
    """Triangle 0-1-2 plus pendant 3 off vertex 2: lcc(0)=lcc(1)=1,
    lcc(2)=1/3 (one closed pair of three), lcc(3)=0 (degree 1)."""
    from linkgraph.algos.clustering import clustering_coefficients

    e = edges_df([(0, 1), (0, 2), (1, 2), (2, 3)])
    got = {
        r["vid"]: (r["triangles"], r["degree"], r["lcc"])
        for r in clustering_coefficients(e).collect()
    }
    assert got == {
        0: (1, 2, 1.0),
        1: (1, 2, 1.0),
        2: (1, 3, round(1 / 3, 6)),
        3: (0, 1, 0.0),
    }


def test_scc_hand_computed(spark, edges_df):
    """Two cycles joined by a one-way bridge + a feeder vertex: each
    cycle is its own SCC (labeled by its min vid), the feeder is a
    singleton — the one-way bridge must NOT merge them."""
    from linkgraph.algos.scc import strongly_connected_components

    e = edges_df(
        [(1, 2), (2, 3), (3, 1),  # cycle A
         (5, 6), (6, 5),          # cycle B
         (3, 5),                  # one-way bridge A -> B
         (9, 1)]                  # feeder singleton
    )
    got = {
        r["vid"]: r["scc"]
        for r in strongly_connected_components(e).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_scc_matches_tarjan_on_derived_graph(spark):
    """The Spark directed-edge derivation AND the distributed coloring
    both match the pure-Python sides at sf0.001 (pins the oracle
    pairing end-to-end outside the driver gate)."""
    from linkgraph.algos.scc import strongly_connected_components
    from linkgraph.graph import directed_edges_from_lineitem
    from linkgraph.oracle.literal import (
        _directed_lineitem_edges,
        _tarjan_scc,
    )

    sf = "/root/testdata/sf0.001"
    e = directed_edges_from_lineitem(spark, sf)
    got_edges = {(r["src"], r["dst"]) for r in e.collect()}
    assert got_edges == set(_directed_lineitem_edges(sf))
    got = {
        r["vid"]: r["scc"]
        for r in strongly_connected_components(e).collect()
    }
    assert got == _tarjan_scc(list(_directed_lineitem_edges(sf)))


def test_node2vec_walks_match_ticket_replay(spark, edges_df):
    """The Spark walk equals a pure-Python replay of the lottery-ticket
    rule on a small graph (pins weights 1/2/4 for return/common/far
    and the exact ticket hashing), and walks follow real edges."""
    import hashlib

    from linkgraph.algos.walks import node2vec_walks

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (1, 4), (4, 5)]
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)

    def h(cur, s, u, j, seed=985):
        return int(
            hashlib.md5(f"{cur}:{s}:{u}:{j}:{seed}".encode()).hexdigest()[:8],
            16,
        )

    def next_step(cur, prev, s):
        best = None
        for u in sorted(nbrs[cur]):
            if s == 1:
                key = h(cur, s, u, 0)
            else:
                w = 1 if u == prev else (2 if u in nbrs[prev] else 4)
                tickets = [h(cur, s, u, j) for j in range(w)]
                key = min(tickets)
            if best is None or (key, u) < best[0]:
                best = ((key, u), u)
        return best[1]

    walk_len = 3
    expect = {}
    for start in nbrs:
        prev = cur = start
        expect[(start, 0)] = start
        for s in range(1, walk_len + 1):
            nxt = next_step(cur, prev, s)
            expect[(start, s)] = nxt
            prev, cur = cur, nxt
    got = {
        (r["start_vid"], r["step"]): r["vid"]
        for r in node2vec_walks(edges_df(edges), walk_len=walk_len).collect()
    }
    assert got == expect


def test_pagerank_weighted_matches_numpy(spark):
    """Weighted PageRank equals the dense numpy power iteration with
    transition ∝ weight/Σweight (5 iterations, both from uniform)."""
    import numpy as np

    from linkgraph.algos.pagerank import pagerank_weighted

    wedges = [(0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 3, 5)]
    wdf = spark.createDataFrame(wedges, "src long, dst long, weight long")
    n = 4
    W = np.zeros((n, n))
    for u, v, w in wedges:
        W[u, v] += w
        W[v, u] += w
    P = W / W.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        r = 0.15 / n + 0.85 * (P.T @ r)
    got = {
        row["vid"]: row["rank"]
        for row in pagerank_weighted(wdf, iterations=5).collect()
    }
    assert np.allclose([got[i] for i in range(n)], r, atol=1e-9)


def test_pagerank_personalized_matches_numpy(spark, edges_df):
    """PPR equals dense numpy iteration r ← (1−d)·e_S + d·PᵀR from
    r₀ = e_S; mass concentrates near the seed."""
    import numpy as np

    from linkgraph.algos.pagerank import pagerank_personalized

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (1, 3)]
    n = 6
    A = np.zeros((n, n))
    for u, v in edges:
        A[u, v] = A[v, u] = 1
    P = A / A.sum(axis=1, keepdims=True)
    e_s = np.zeros(n)
    e_s[0] = 1.0
    r = e_s.copy()
    for _ in range(5):
        r = 0.15 * e_s + 0.85 * (P.T @ r)
    got = {
        row["vid"]: row["rank"]
        for row in pagerank_personalized(
            edges_df(edges), seeds=[0], iterations=5
        ).collect()
    }
    assert np.allclose([got[i] for i in range(n)], r, atol=1e-9)
    assert got[0] == max(got.values())  # seed holds the most mass


def test_scc_dag_chain_trims_and_raises_on_exhaustion(spark, edges_df):
    """Code-review regression: an increasing-vid chain (pure DAG) used
    to settle ONE vertex per outer round and silently truncate. The
    trim pass now peels the periphery (whole chain labeled in a few
    rounds), and exhausting max_outer RAISES instead of returning an
    incomplete labeling."""
    import pytest as _pytest

    from linkgraph.algos.scc import strongly_connected_components

    n = 40
    chain = edges_df([(i, i + 1) for i in range(n - 1)])
    got = {
        r["vid"]: r["scc"]
        for r in strongly_connected_components(chain, max_outer=8).collect()
    }
    assert got == {i: i for i in range(n)}  # all singletons, complete
    with _pytest.raises(RuntimeError, match="max_outer"):
        # 0 outer rounds with a non-empty graph must fail loudly
        strongly_connected_components(chain, max_outer=0).collect()


def test_jaccard_topk_hand_computed(spark, edges_df):
    """Square 0-1-2-3 (cycle): diagonal pairs (0,2) and (1,3) share
    both neighbors → Jaccard 2/2 = 1.0; adjacent pairs are excluded."""
    from linkgraph.algos.linkpred import jaccard_topk

    e = edges_df([(0, 1), (1, 2), (2, 3), (0, 3)])
    got = {(r["u"], r["w"]): r["jaccard"] for r in jaccard_topk(e).collect()}
    assert got == {(0, 2): 1.0, (1, 3): 1.0}


def test_label_propagation_weighted_prefers_heavy_edge(spark):
    """Vertex 2 has neighbors 0 (weight 5) and 1 (weight 1): after one
    round its label follows the HEAVY edge even though plain LPA would
    tie-break to min label; integer weight sums keep it exact."""
    from linkgraph.algos.lpa import label_propagation_weighted

    wdf = spark.createDataFrame(
        [(0, 2, 5), (1, 2, 1), (0, 1, 1)], "src long, dst long, weight long"
    )
    got = {
        r["vid"]: r["label"]
        for r in label_propagation_weighted(wdf, iterations=1).collect()
    }
    assert got[2] == 0  # weight-5 vote beats weight-1 vote
    assert got[1] == 0  # 0's vote (1) ties 2's vote (1) → min label 0
    assert got[0] == 2  # neighbor 2 votes with weight 5, neighbor 1 with 1


def test_hits_rejects_zero_iterations(spark, edges_df):
    """No half-step at 0 iterations leaves no authority vector to
    return: ``hits`` rejects it with a ValueError, as ``k_core`` rejects
    0 peel rounds."""
    from linkgraph.algos.hits import hits

    with pytest.raises(ValueError, match="at least one iteration"):
        hits(edges_df([(1, 2), (2, 3)]), iterations=0)


def test_hits_hand_computed(spark, edges_df):
    """Directed star-in plus chain: numpy power iteration with the
    same L1 normalization reproduces the distributed HITS exactly
    (same iteration count, same update order)."""
    import numpy as np

    from linkgraph.algos.hits import hits

    edges = [(0, 3), (1, 3), (2, 3), (3, 4), (4, 0)]
    vids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(vids)}
    A = np.zeros((len(vids), len(vids)))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    hub = np.ones(len(vids)) * (A.sum(axis=1) > 0)
    for _ in range(5):
        auth = A.T @ hub
        auth = auth / auth.sum()
        hub = A @ auth
        hub = hub / hub.sum()
    got = {
        r["vid"]: (r["auth"], r["hub"])
        for r in hits(edges_df(edges), iterations=5).collect()
    }
    assert set(got) == set(vids)
    for v in vids:
        assert abs(got[v][0] - auth[idx[v]]) < 1e-9, v
        assert abs(got[v][1] - hub[idx[v]]) < 1e-9, v
    # the sink-heavy vertex 3 is the top authority; its three
    # pointers are the top hubs
    assert max(got, key=lambda v: got[v][0]) == 3


def test_harmonic_centrality_hand_computed(spark, edges_df):
    """Path 0-1-2-3 with landmarks {0, 3}: C_H(1) = 1/1 + 1/2,
    C_H(0) = 1/3 (only the far landmark counts — no self term)."""
    from linkgraph.algos.bfs import harmonic_centrality, landmark_distances

    e = edges_df([(0, 1), (1, 2), (2, 3)])
    got = {
        r["vid"]: r["harmonic"]
        for r in harmonic_centrality(e, landmarks=[0, 3]).collect()
    }
    assert got == {
        0: round(1 / 3, 6),
        1: round(1.0 + 0.5, 6),
        2: round(1.0 + 0.5, 6),
        3: round(1 / 3, 6),
    }
    # keyed landmark BFS agrees with per-source bfs_distances
    from linkgraph.algos.bfs import bfs_distances

    ld = {
        (r["lm"], r["vid"]): r["dist"]
        for r in landmark_distances(e, landmarks=[0, 3]).collect()
    }
    for s in (0, 3):
        solo = {
            r["vid"]: r["dist"] for r in bfs_distances(e, sources=[s]).collect()
        }
        assert solo == {v: d for (lm, v), d in ld.items() if lm == s}


def test_k_truss_hand_computed(spark, edges_df):
    """4-clique + pendant triangle + lone edge: the 4-truss is exactly
    the clique (clique edges close 2 triangles, pendant-triangle edges
    only 1). Diamond chain: peeling must CASCADE to empty — round 1
    drops the supp-1 rim, leaving the spine with no triangles at all."""
    from linkgraph.algos.truss import k_truss

    clique = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    e = edges_df(clique + [(3, 4), (3, 5), (4, 5), (5, 6)])
    got = sorted(
        (r["src"], r["dst"]) for r in k_truss(e, k=4).collect()
    )
    assert got == sorted(clique)
    # k=3 keeps every edge that lies on a triangle
    got3 = sorted((r["src"], r["dst"]) for r in k_truss(e, k=3).collect())
    assert got3 == sorted(clique + [(3, 4), (3, 5), (4, 5)])
    # diamond chain (triangles sharing edges) cascades to empty at k=4
    chain = edges_df(
        [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5), (4, 5)]
    )
    assert k_truss(chain, k=4).count() == 0
    # fixed-round mode matches convergence mode past the peel depth
    fixed = sorted(
        (r["src"], r["dst"]) for r in k_truss(e, k=4, fixed_rounds=6).collect()
    )
    assert fixed == got


def test_betweenness_hand_computed(spark, edges_df):
    """Path 0-1-2-3-4, landmarks {0,4}: every interior vertex carries
    4 dependency units (Brandes δ summed from both ends), endpoints 0.
    Diamond 0-1-3 / 0-2-3 from {0}: σ(3)=2 splits δ equally — the
    fractional path-count case."""
    from linkgraph.algos.betweenness import betweenness_landmark

    path = edges_df([(0, 1), (1, 2), (2, 3), (3, 4)])
    got = {
        r["vid"]: r["betweenness"]
        for r in betweenness_landmark(path, [0, 4], depth=6).collect()
    }
    assert got == {0: 0.0, 1: 4.0, 2: 4.0, 3: 4.0, 4: 0.0}
    diamond = edges_df([(0, 1), (0, 2), (1, 3), (2, 3)])
    got_d = {
        r["vid"]: r["betweenness"]
        for r in betweenness_landmark(diamond, [0], depth=6).collect()
    }
    assert got_d == {1: 0.5, 2: 0.5, 3: 0.0}


def test_sssp_weighted_hand_computed(spark):
    """Cheap long route beats the expensive direct edge: vertex 3's
    cost must IMPROVE after first being reached at 10 (Bellman-Ford
    re-relaxation — the frontier re-entry case BFS never hits)."""
    from linkgraph.algos.sssp import sssp_weighted

    w = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10), (5, 6, 2)],
        "src long, dst long, weight long",
    )
    got = {r["vid"]: r["cost"] for r in sssp_weighted(w, sources=[0]).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 5,6 unreached
    # one round only: direct edge wins before relaxation catches up
    one = {
        r["vid"]: r["cost"]
        for r in sssp_weighted(w, sources=[0], fixed_iterations=1).collect()
    }
    assert one[3] == 10
    multi = {
        r["vid"]: r["cost"] for r in sssp_weighted(w, sources=[0, 6]).collect()
    }
    assert multi == {0: 0, 1: 1, 2: 2, 3: 3, 6: 0, 5: 2}


def test_common_neighbor_scores_hand_computed(spark, edges_df):
    """Same fixture as the Adamic-Adar test: the only non-adjacent
    candidate pair is (1,3) with common neighbors {2,4} (deg 3 each)
    — cn=2, ra = 1/3 + 1/3, pa = deg(1)*deg(3) = 2*2."""
    from linkgraph.algos.linkpred import common_neighbor_scores

    e = edges_df([(1, 2), (2, 3), (1, 4), (3, 4), (2, 4)])
    rows = common_neighbor_scores(e, top=10).collect()
    got = {(r["u"], r["w"]): (r["cn"], r["ra_score"], r["pa_score"]) for r in rows}
    assert got == {(1, 3): (2, round(1 / 3 + 1 / 3, 6), 4)}


def test_mis_independent_and_maximal(spark, edges_df):
    """On a 16-cycle: the returned set has no adjacent pair and every
    non-member has a member neighbor (maximality)."""
    from linkgraph.algos.mis import maximal_independent_set

    n = 16
    cyc = [(i, (i + 1) % n) for i in range(n)]
    mis = {r["vid"] for r in maximal_independent_set(edges_df(cyc)).collect()}
    adj = {v: set() for v in range(n)}
    for a, b in cyc:
        adj[a].add(b)
        adj[b].add(a)
    assert all(not (adj[v] & mis) for v in mis)          # independent
    assert all(adj[v] & mis for v in set(range(n)) - mis)  # maximal


def test_coloring_proper_and_complete_on_sparse(spark, edges_df):
    """Local-min coloring fully colors a sparse graph (16-cycle plus a
    chord) and no edge is monochromatic."""
    from linkgraph.algos.mis import greedy_coloring

    n = 16
    es = [(i, (i + 1) % n) for i in range(n)] + [(0, 8)]
    colors = {
        r["vid"]: r["color"] for r in greedy_coloring(edges_df(es)).collect()
    }
    assert set(colors) == set(range(n))  # everyone colored
    assert all(colors[a] != colors[b] for a, b in es)  # proper


def test_coloring_partial_budget_raises_without_flag(spark, edges_df):
    """A triangle needs 3 rounds under local-min coloring; a 1-round
    budget raises unless allow_partial, which returns the 1-round
    prefix (exactly the round-1 local minima)."""
    import pytest as _pytest

    from linkgraph.algos.mis import greedy_coloring

    tri = edges_df([(1, 2), (2, 3), (1, 3)])
    with _pytest.raises(RuntimeError):
        greedy_coloring(tri, fixed_iterations=1).collect()
    part = greedy_coloring(tri, fixed_iterations=1, allow_partial=True)
    rows = part.collect()
    assert len(rows) == 1 and rows[0]["color"] == 1


def test_bipartite_projection_hand_computed(spark):
    """Customers {1,2,3} × parts {10,11,12}: parts 10={1,2}, 11={1,2,3},
    12={3}. Full projection: (1,2) share {10,11} → 2; (1,3),(2,3)
    share {11} → 1. With hub_cap=2 part 11 is dropped → only (1,2)
    remains at weight 1."""
    from linkgraph.algos.projection import bipartite_projection

    inc = spark.createDataFrame(
        [(1, 10), (2, 10), (1, 11), (2, 11), (3, 11), (3, 12), (1, 11)],
        "cust long, part long",
    )
    full = {
        (r["u"], r["w"]): r["weight"]
        for r in bipartite_projection(inc, "cust", "part").collect()
    }
    assert full == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    capped = {
        (r["u"], r["w"]): r["weight"]
        for r in bipartite_projection(inc, "cust", "part", hub_cap=2).collect()
    }
    assert capped == {(1, 2): 1}


def test_reciprocity_hand_computed(spark, edges_df):
    """4 directed edges, one mutual pair (1→2, 2→1) → 2 mutual edges,
    reciprocity 0.5."""
    from linkgraph.algos.projection import reciprocity

    de = edges_df([(1, 2), (2, 1), (2, 3), (3, 4)])
    row = reciprocity(de).first()
    assert (row["n_edges"], row["n_mutual"]) == (4, 2)
    assert row["reciprocity"] == 0.5


def test_feature_propagation_hand_computed(spark, edges_df):
    """Path 1-2-3 with features only on 1 and 3: vertex 2 sums both
    neighbors' quantized vectors; vertices 1 and 3 each see only
    vertex 2, which has no feature row → absent."""
    from linkgraph.algos.features import feature_propagation

    e = edges_df([(1, 2), (2, 3)])
    feats = spark.createDataFrame(
        [(1, [0.5, -0.25]), (3, [0.1, 0.2])],
        "vec_id long, embedding array<double>",
    )
    rows = feature_propagation(e, feats).collect()
    got = {r["vid"]: (r["n_nbrs"], r["feat_sum"]) for r in rows}
    assert got == {2: (2, [600000, -50000])}


def test_distance_histogram_on_path(spark, edges_df):
    """Path 0-1-2-3 with landmark {0}: one pair at each of dist
    0,1,2,3 → n_pairs all 1, cum_share 0.25/0.5/0.75/1.0."""
    from linkgraph.algos.bfs import distance_histogram

    e = edges_df([(0, 1), (1, 2), (2, 3)])
    rows = distance_histogram(e, landmarks=[0], fixed_iterations=4).collect()
    got = {r["dist"]: (r["n_pairs"], r["cum_share"]) for r in rows}
    assert got == {0: (1, 0.25), 1: (1, 0.5), 2: (1, 0.75), 3: (1, 1.0)}


def test_attribute_assortativity_hand_computed(spark, edges_df):
    """Two same-class edges (a-a, b-b) + one cross edge: darts t=6,
    same s=4, class dart counts c_a=3, c_b=3 → q=18;
    r = (4·6−18)/(36−18) = 6/18 = 1/3. All-same-class graph → NULL."""
    from linkgraph.algos.projection import attribute_assortativity

    e = edges_df([(1, 2), (3, 4), (2, 3)])
    attrs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "vid long, cls string"
    )
    r = attribute_assortativity(e, attrs).first()["assortativity"]
    assert r == round(1 / 3, 6)
    mono = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "a")], "vid long, cls string"
    )
    assert attribute_assortativity(e, mono).first()["assortativity"] is None


def test_induced_subgraph_matches_python_hash(spark, edges_df):
    """Edge survives iff md5 keeps BOTH endpoints — mirror in pure
    Python over a small edge list."""
    import hashlib

    from linkgraph.algos.projection import induced_subgraph

    def keep(v):
        return int(hashlib.md5(f"{v}:sub".encode()).hexdigest()[:8], 16) % 3 == 0

    es = [(a, b) for a in range(12) for b in range(a + 1, 12)]
    got = {
        (r["src"], r["dst"])
        for r in induced_subgraph(edges_df(es), m=3).collect()
    }
    assert got == {(a, b) for a, b in es if keep(a) and keep(b)}
    assert got  # non-degenerate: something survived


def test_two_hop_sizes_hand_computed(spark, edges_df):
    """Path 1-2-3-4-5: N2(1)={3}, N2(2)={4}, N2(3)={1,5}, N2(4)={2},
    N2(5)={3}. Degree-1 leaves still appear as SPOKES u (their center
    neighbor qualifies); center cap respected."""
    from linkgraph.algos.projection import two_hop_sizes

    path = edges_df([(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r["vid"]: r["n2"] for r in two_hop_sizes(path).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1}
    # star: center 0, leaves 1..4 — every leaf pair is 2-hop via 0
    star = edges_df([(0, i) for i in range(1, 5)])
    got_s = {r["vid"]: r["n2"] for r in two_hop_sizes(star).collect()}
    assert got_s == {1: 3, 2: 3, 3: 3, 4: 3}
    # cap below the center's degree removes the only wedge center
    assert two_hop_sizes(star, cap=3).count() == 0


def test_modularity_hand_computed(spark, edges_df):
    """Two disjoint triangles, labels = component: t=12 darts, every
    dart intra (s=12), D_c=6 each → q=72; Q=(12·12−72)/144 = 0.5.
    Everything one community → Q = 0 exactly."""
    from linkgraph.algos.projection import modularity

    e = edges_df([(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)])
    labs = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "vid long, label long",
    )
    row = modularity(e, labs).first()
    assert row["n_communities"] == 2
    assert row["modularity"] == 0.5
    one = spark.createDataFrame(
        [(v, 7) for v in range(1, 7)], "vid long, label long"
    )
    assert modularity(e, one).first()["modularity"] == 0.0


def test_transitivity_hand_computed(spark, edges_df):
    """Triangle {1,2,3} + pendant 3-4: T=1, degrees (2,2,3,1) →
    wedges 1+1+3+0 = 5 → 3/5. Matching (no wedges) → NULL."""
    from linkgraph.algos.triangles import transitivity

    e = edges_df([(1, 2), (2, 3), (1, 3), (3, 4)])
    row = transitivity(e).first()
    assert (row["n_triangles"], row["n_wedges"]) == (1, 5)
    assert row["transitivity"] == 0.6
    m = edges_df([(1, 2), (3, 4)])
    assert transitivity(m).first()["transitivity"] is None


def test_powerlaw_alpha_matches_python(spark, edges_df):
    """Star 0–{1..4}: α = 1 + 5/ln 4 (only the hub's ln counts)."""
    import math

    from linkgraph.graph import degrees

    e = edges_df([(0, i) for i in range(1, 5)])
    hist = degrees(e).groupBy("degree").count()
    from pyspark.sql import functions as F

    got = (
        hist.agg(
            F.round(
                F.lit(1.0)
                + F.try_divide(
                    F.sum("count"),
                    F.sum(F.col("count") * F.log(F.col("degree").cast("double"))),
                ),
                6,
            ).alias("alpha")
        ).first()["alpha"]
    )
    assert got == round(1 + 5 / math.log(4), 6)


def test_rich_club_hand_computed(spark, edges_df):
    """Triangle {1,2,3} + pendant 3-4: k grid {1,2,3}. k=1 → the
    triangle's 3 vertices with all 3 edges inside: φ=1. k=2 → only
    vertex 3 remains (N<2 → NULL). k=3 → empty club."""
    from linkgraph.algos.projection import rich_club

    e = edges_df([(1, 2), (2, 3), (1, 3), (3, 4)])
    rows = {r["k"]: r for r in rich_club(e).collect()}
    assert set(rows) == {1, 2, 3}
    assert (rows[1]["n_rich"], rows[1]["e_rich"], rows[1]["rich_club"]) == (3, 3, 1.0)
    assert rows[2]["n_rich"] == 1 and rows[2]["rich_club"] is None
    assert rows[3]["n_rich"] == 0 and rows[3]["rich_club"] is None


def test_avg_neighbor_degree_hand_computed(spark, edges_df):
    """Path 1-2-3: degree-1 endpoints see only the center (knn=2);
    the center's two darts see leaves (knn=1)."""
    from linkgraph.algos.projection import avg_neighbor_degree

    e = edges_df([(1, 2), (2, 3)])
    rows = {r["k"]: (r["n_darts"], r["knn_mean"]) for r in avg_neighbor_degree(e).collect()}
    assert rows == {1: (2, 2.0), 2: (2, 1.0)}


def test_eccentricity_lb_path(spark, edges_df):
    """Path 1..5, landmarks {1,5}: ecc_lb = max(dist to either end)
    — exactly the true eccentricity on a path with both ends as
    landmarks."""
    from linkgraph.algos.bfs import eccentricity_lb

    e = edges_df([(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {
        r["vid"]: (r["n_landmarks"], r["ecc_lb"])
        for r in eccentricity_lb(e, landmarks=[1, 5]).collect()
    }
    assert got == {1: (2, 4), 2: (2, 3), 3: (2, 2), 4: (2, 3), 5: (2, 4)}
