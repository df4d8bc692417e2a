"""HDRF: Spark exact mode ≡ sequential Python oracle; chunked mode
invariants (completeness, balance cap, RF better than hash)."""

import pytest
from pyspark.sql import functions as F

from linkgraph import rolling
from linkgraph.partition.hdrf import hdrf_oracle, hdrf_spark, stream_ord_expr, stream_ord_py
from linkgraph.partition.metrics import assert_complete, edge_partition_metrics
from linkgraph.partition.strategies import hash_edges
from linkgraph.synth import graph_edges


# jobs of hdrf_spark(exact=False) on a cached input: the pre-pass that
# observes the chunk sizes, and one whole call with CHUNKED_CALL_CHUNKS
# chunks on the test graph. A change that adds one must say why.
CHUNKED_PREPASS_JOBS = 1
CHUNKED_CALL_CHUNKS = 2
CHUNKED_CALL_JOBS = 9


@pytest.fixture(scope="module")
def powerlaw():
    return graph_edges("powerlaw_ba", n=300, m=3, seed=11)


def _stream_order(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = (
        df.withColumn("_o", stream_ord_expr())
        .orderBy("_o", "src", "dst")
        .collect()
    )
    return [(r["src"], r["dst"]) for r in rows]


def test_stream_ord_portable(spark):
    """The Spark stream-order key must equal the pure-Python twin —
    this is what lets the literal-VALUES DuckDB oracles reproduce the
    exact-mode stream outside Spark."""
    df = spark.createDataFrame(
        [(0, 1), (17, 4242), (999999999999, 3)], "src long, dst long"
    )
    got = {(r["src"], r["dst"]): r["o"] for r in
           df.withColumn("o", stream_ord_expr()).collect()}
    for (u, v), o in got.items():
        assert o == stream_ord_py(u, v)


@pytest.mark.parametrize("k", [4, 8])
def test_exact_matches_oracle(spark, edges_df, powerlaw, k):
    stream = _stream_order(spark, powerlaw)
    want = dict(zip(stream, hdrf_oracle(stream, k)))
    got = {
        (r["src"], r["dst"]): r["partition"]
        for r in hdrf_spark(edges_df(powerlaw), k, exact=True).collect()
    }
    assert got == want


def test_exact_completeness_and_balance(spark, edges_df, powerlaw):
    k = 8
    e = edges_df(powerlaw)
    p = hdrf_spark(e, k, exact=True)
    assert_complete(e, p, k)
    m = edge_partition_metrics(p, k).first()
    assert m["alpha"] <= 1.05 + 8 / m["m"] * k  # cap + integer slack


def test_chunked_invariants(spark, edges_df, powerlaw):
    k = 8
    e = edges_df(powerlaw)
    p = hdrf_spark(e, k, exact=False, num_chunks=3)
    assert_complete(e, p, k)
    mc = edge_partition_metrics(p, k).first()
    mh = edge_partition_metrics(hash_edges(e, k, "xxhash64"), k).first()
    assert mc["replication_factor"] < mh["replication_factor"]
    assert mc["alpha"] <= 1.3  # budgeted-parallel slack over the 1.05 cap


def test_chunked_job_count_pinned(spark, edges_df, powerlaw, monkeypatch):
    """Over a cached input the pre-pass costs CHUNKED_PREPASS_JOBS jobs
    and a whole call CHUNKED_CALL_JOBS (output forced). The input is a
    distinct, as extraction's is: a cache over a plan with an exchange
    is filled by a job of its own, so caching the input again would show
    here. After the call only the returned chunk checkpoints stay
    persisted: the rolled vertex state is released."""
    sc = spark.sparkContext
    e = edges_df(powerlaw).distinct().cache()
    e.count()
    before = sc._jsc.getPersistentRDDs().size()
    stock = rolling.fill_observed

    def counted(df, *metrics):
        sc.setJobGroup("hdrf-prepass", "chunked HDRF pre-pass")
        try:
            return stock(df, *metrics)
        finally:
            sc.setJobGroup("hdrf-call", "chunked HDRF call")

    monkeypatch.setattr(rolling, "fill_observed", counted)
    sc.setJobGroup("hdrf-call", "chunked HDRF call")
    try:
        p = hdrf_spark(e, 8, exact=False, num_chunks=CHUNKED_CALL_CHUNKS)
        p.write.format("noop").mode("overwrite").save()
        held = sc._jsc.getPersistentRDDs().size()
    finally:
        sc.setJobGroup(None, None)
        e.unpersist()
    assert held == before + CHUNKED_CALL_CHUNKS
    prepass = len(sc.statusTracker().getJobIdsForGroup("hdrf-prepass"))
    rest = len(sc.statusTracker().getJobIdsForGroup("hdrf-call"))
    assert prepass == CHUNKED_PREPASS_JOBS
    assert prepass + rest == CHUNKED_CALL_JOBS


def test_chunked_deterministic(spark, edges_df, powerlaw):
    e = edges_df(powerlaw)
    a = {
        (r["src"], r["dst"]): r["partition"]
        for r in hdrf_spark(e, 8, exact=False, num_chunks=3).collect()
    }
    b = {
        (r["src"], r["dst"]): r["partition"]
        for r in hdrf_spark(e, 8, exact=False, num_chunks=3).collect()
    }
    assert a == b


def test_oracle_hub_replication_preference():
    """HDRF's defining behavior: the high-degree endpoint gets
    replicated, low-degree endpoints stay local. On a two-hub graph
    each hub ends up on multiple partitions, leaves on one."""
    edges = [(0, i) for i in range(2, 40)] + [(1, i) for i in range(40, 80)]
    parts = hdrf_oracle(edges, 4)
    hub0 = {p for (u, v), p in zip(edges, parts) if u == 0}
    assert len(hub0) > 1


def test_hdrf_score_trace_by_hand():
    """Hand-computed trace of the HDRF *numeric* score formula
    (hdrf.cpp:68-116): g(x,j) = 1 + (1 - deg_x/(deg_u+deg_v)) when x is
    mirrored on j else 0; bal(j) = (max-load_j)/(eps+max-min), eps=1;
    score = g(u)+g(v) + λ·bal; partitions at cap = int(1.05·m/k) are
    skipped; ties → lowest id. Anchors the score math independently of
    the engine (the literal-VALUES oracles share the scoring core, so
    they can't catch a formula-level error — this trace can).

    k=3, m=6 ⇒ cap = int(1.05·6/3) = 2. Stream (= list order here):
      e1 (1,2): pdeg 1,1; no mirrors; loads [0,0,0] ⇒ bal undefined
                (min_load unset before any load) ⇒ score 0 everywhere
                ⇒ tie ⇒ p0. loads [1,0,0].
      e2 (1,3): pdeg u=2,v=1, s=3; 1 mirrored on p0 ⇒ g(1,p0)=1+(1-2/3)
                =4/3≈1.3333; bal=[0-?,..]: max=1,min=0 ⇒ bal_j=(1-l_j)/2
                = [0,.5,.5]; scores [1.3333, 0.55, 0.55] ⇒ p0 (the
                replication term beats the best balance term). loads
                [2,0,0].
      e3 (2,3): p0 at cap(2) ⇒ skipped even though both endpoints are
                mirrored there; bal p1=p2=(2-0)/(1+2-0)=2/3; g=0 ⇒
                scores [-inf, 0.7333, 0.7333] ⇒ tie ⇒ p1. loads [2,1,0].
      e4 (1,4): p0 full; g=0 on p1/p2; bal p1=(2-1)/3=1/3, p2=2/3 ⇒
                scores [-inf, 0.3667, 0.7333] ⇒ p2 (pure balance
                decision). loads [2,1,1].
      e5 (5,6): p0 full; fresh endpoints, g=0; bal p1=p2=(2-1)/(1+2-1)
                =0.5 ⇒ tie ⇒ p1. loads [2,2,1].
      e6 (4,5): p0,p1 full ⇒ only p2; 4 mirrored on p2 ⇒ g=1.5;
                score 1.5+1.1·0.5=2.05 ⇒ p2. loads [2,2,2].
    """
    edges = [(1, 2), (1, 3), (2, 3), (1, 4), (5, 6), (4, 5)]
    assert hdrf_oracle(edges, 3) == [0, 0, 1, 2, 1, 2]
    # λ placement check: with λ=4 the balance term at e2 (0.5·4=2.0 on
    # p1/p2) must beat the replication term on p0 (4/3 + 4·0 = 1.3333,
    # since bal(p0)=(1-1)/2=0) — e2 flips from p0 to p1. A formula that
    # scaled g by λ instead of bal would keep e2 on p0.
    assert hdrf_oracle(edges, 3, lamb=4.0)[1] == 1


def test_greedy_rules():
    """Reference greedy rules (greedy.cpp:17-70) on a hand-traced
    stream, k=2: [0-1] → least-loaded (p0); [2-3] → p1 (balance);
    [1-2] spans p0∪p1, least-loaded tie → p0; [0-2] now common p0."""
    edges = [(0, 1), (2, 3), (1, 2), (0, 2)]
    parts = hdrf_oracle(edges, 2, mode="greedy")
    assert parts == [0, 1, 0, 0]


def test_greedy_exact_matches_oracle(spark, edges_df, powerlaw):
    stream = _stream_order(spark, powerlaw)
    want = dict(zip(stream, hdrf_oracle(stream, 4, mode="greedy")))
    got = {
        (r["src"], r["dst"]): r["partition"]
        for r in hdrf_spark(edges_df(powerlaw), 4, exact=True, mode="greedy").collect()
    }
    assert got == want


def test_greedy_chunked_quality(spark, edges_df, powerlaw):
    """Chunked greedy (the scale path, same machinery as chunked HDRF):
    complete, balance-bounded, and RF within a documented bound of
    exact greedy on the power-law fixture."""
    k = 8
    e = edges_df(powerlaw)
    p = hdrf_spark(e, k, exact=False, num_chunks=4, mode="greedy")
    assert_complete(e, p, k)
    mc = edge_partition_metrics(p, k).first()
    me = edge_partition_metrics(
        hdrf_spark(e, k, exact=True, mode="greedy"), k
    ).first()
    mh = edge_partition_metrics(hash_edges(e, k, "xxhash64"), k).first()
    assert mc["replication_factor"] < mh["replication_factor"]
    assert mc["replication_factor"] <= me["replication_factor"] * 1.6
    assert mc["alpha"] <= 1.3


def test_greedy_beats_hash_rf(spark, edges_df, powerlaw):
    e = edges_df(powerlaw)
    mg = edge_partition_metrics(hdrf_spark(e, 8, exact=True, mode="greedy"), 8).first()
    mh = edge_partition_metrics(hash_edges(e, 8, "xxhash64"), 8).first()
    assert mg["replication_factor"] < mh["replication_factor"]


def test_offstream_hybrid(spark, edges_df, powerlaw):
    """Offstream hybrid (offline prefix + streamed suffix, reference
    offstreamNH.cpp:82-182): complete, deterministic, frozen-prefix
    property (prefix assignments are what the offline pass alone
    produces), RF better than hash."""
    from linkgraph.partition.hdrf import _hdrf_chunked, offstream_spark

    k = 8
    e = edges_df(powerlaw)
    out = offstream_spark(e, k, ratio=0.5, offline_chunks=3)
    assert_complete(e, out, k)
    got = {(r["src"], r["dst"]): r["partition"] for r in out.collect()}
    got2 = {
        (r["src"], r["dst"]): r["partition"]
        for r in offstream_spark(e, k, ratio=0.5, offline_chunks=3).collect()
    }
    assert got == got2
    # frozen prefix: the offline pass alone must agree on its edges
    m = e.count()
    split = F.pmod(F.xxhash64("src", "dst", F.lit(31337)), F.lit(1000)) < 500
    prefix = e.where(split)
    pre_alone = {
        (r["src"], r["dst"]): r["partition"]
        for r in _hdrf_chunked(prefix, k, 1.1, 1.05, 3, total_edges=m).collect()
    }
    for edge, p in pre_alone.items():
        assert got[edge] == p
    mo = edge_partition_metrics(out, k).first()
    mh = edge_partition_metrics(hash_edges(e, k, "xxhash64"), k).first()
    assert mo["replication_factor"] < mh["replication_factor"]


def test_restream_invariants(spark, edges_df, powerlaw):
    """2-pass restreaming HDRF: complete, deterministic, balanced, and
    at least as good as hash (the quality trade-off vs single-pass is
    documented in the docstring with sf0.01 measurements)."""
    from linkgraph.partition.hdrf import hdrf_restream

    k = 8
    e = edges_df(powerlaw)
    p = hdrf_restream(e, k, num_chunks=3)
    assert_complete(e, p, k)
    a = {(r["src"], r["dst"]): r["partition"] for r in p.collect()}
    b = {
        (r["src"], r["dst"]): r["partition"]
        for r in hdrf_restream(e, k, num_chunks=3).collect()
    }
    assert a == b
    mr = edge_partition_metrics(p, k).first()
    mh = edge_partition_metrics(hash_edges(e, k, "xxhash64"), k).first()
    assert mr["replication_factor"] < mh["replication_factor"]
    assert mr["alpha"] <= 1.3


def test_offstream_ne_offline(spark, edges_df):
    """offstream with an NE-coarse offline phase — the reference's
    actual offstreamNH pairing (NE prefix + streamed HDRF suffix). On
    a community-structured graph the NE prefix state steers the
    streamed suffix: complete + materially better RF than the
    all-chunked hybrid."""
    from tests.test_ne import planted_communities

    from linkgraph.partition.hdrf import offstream_spark

    k = 4
    e = edges_df(planted_communities(k=4, size=40, seed=5))
    out_ne = offstream_spark(e, k, offline="ne_coarse")
    assert_complete(e, out_ne, k)
    m_ne = edge_partition_metrics(out_ne, k).first()
    m_ch = edge_partition_metrics(
        offstream_spark(e, k, offline_chunks=3), k
    ).first()
    assert m_ne["replication_factor"] < m_ch["replication_factor"]
