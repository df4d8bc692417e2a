"""CSR-block gather-scatter PageRank ≡ join-based PageRank ≡ NumPy
oracle (north-star execution shape); CC/LPA over the same blobs ≡ their
join-based kernels; released storage and pinned job counts."""

import numpy as np
import pytest

from linkgraph.csr import build_csr, pagerank_csr
from linkgraph.oracle.numpy_ref import pagerank_np
from linkgraph.synth import graph_edges

# Jobs a warm pagerank_csr_blocks call launches in the test session
# (local[4], 8 shuffle partitions) when a noop write forces its result:
# setup (the route table's shuffle and checkpoint, the noop write) and
# each superstep (the state ⋈ routes, cogroup and finalize exchanges
# plus the rolled checkpoint)
CSR_SETUP_JOBS = 3
CSR_SUPERSTEP_JOBS = 4


def test_build_csr_prefix_sums():
    src = np.array([2, 0, 2, 1, 0])
    dst = np.array([3, 1, 0, 2, 2])
    uniq, indptr, indices = build_csr(src, dst)
    assert uniq.tolist() == [0, 1, 2]
    assert indptr.tolist() == [0, 2, 3, 5]
    assert indices.tolist() == [1, 2, 2, 0, 3]


@pytest.mark.parametrize("strategy,k", [("grid", 4), ("hash", 6), ("dbh", 4)])
def test_pagerank_csr_matches_oracle(spark, edges_df, strategy, k):
    edges = graph_edges("powerlaw_ba", n=150, m=2, seed=9)
    got = {
        r["vid"]: r["rank"]
        for r in pagerank_csr(
            edges_df(edges), k=k, strategy=strategy, iterations=12
        ).collect()
    }
    want = pagerank_np(edges, iterations=12)
    assert set(got) == set(want)
    assert np.allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)], atol=1e-6
    )


def test_pagerank_csr_matches_join_based(spark, edges_df):
    from linkgraph.algos.pagerank import pagerank

    edges = graph_edges("two_cliques_bridge")
    a = {
        r["vid"]: r["rank"]
        for r in pagerank_csr(edges_df(edges), k=4, iterations=8).collect()
    }
    b = {
        r["vid"]: r["rank"] for r in pagerank(edges_df(edges), iterations=8).collect()
    }
    assert np.allclose(
        [a[v] for v in sorted(a)], [b[v] for v in sorted(b)], atol=1e-12
    )


def test_pagerank_csr_blocks_matches(spark, edges_df):
    """Table-backed CSR-blob PageRank ≡ the in-memory ``pagerank_csr``
    (same math, same blocks): the blobs table round-trips the arrays."""
    import numpy as np

    from linkgraph.csr import pagerank_csr_blocks, prepare_csr_blocks

    edges = graph_edges("powerlaw_ba", n=120, m=2, seed=21)
    e = edges_df(edges)
    a = {
        r["vid"]: r["rank"]
        for r in pagerank_csr(e, k=4, iterations=6).collect()
    }
    prepare_csr_blocks(e, k=4, strategy="grid", blocks_table="t_csr_blobs")
    b = {
        r["vid"]: r["rank"]
        for r in pagerank_csr_blocks(
            e, k=4, blocks_table="t_csr_blobs", iterations=6
        ).collect()
    }
    assert set(a) == set(b)
    assert np.allclose(
        [a[v] for v in sorted(a)], [b[v] for v in sorted(b)], atol=1e-12
    )
    spark.sql("DROP TABLE IF EXISTS t_csr_blobs")


def _labels(df, col: str = "component") -> dict:
    return {r["vid"]: r[col] for r in df.collect()}


def test_cc_csr_blocks_equals_join_based(spark, edges_df, tmp_path):
    """CC over CSR blobs and durable CC must equal the join-based
    hash-min result bit-for-bit at the same round count (integer min is
    exact), and at convergence must equal the Python oracle components;
    durable CC marks converged the superstep at which join CC's
    convergence mode stops (the first that changes no label)."""
    from linkgraph.algos.cc import connected_components
    from linkgraph.csr import cc_csr_blocks, prepare_csr_blocks
    from linkgraph.oracle.numpy_ref import components_py
    from linkgraph.pregel import CheckpointManager, cc_checkpointed
    from linkgraph.synth import graph_edges

    edges = graph_edges("powerlaw_ba", n=200, m=2, seed=7)
    e = edges_df(edges)
    prepare_csr_blocks(e, k=4, strategy="grid", blocks_table="t_cc_blocks")
    for rounds in (2, 6):
        want = _labels(connected_components(e, fixed_iterations=rounds))
        assert _labels(
            cc_csr_blocks(e, 4, "t_cc_blocks", fixed_iterations=rounds)
        ) == want, rounds
        ckpt = CheckpointManager(spark, str(tmp_path), f"cc-{rounds}")
        assert _labels(
            cc_checkpointed(spark, e, ckpt, max_iterations=rounds)
        ) == want, rounds
    conv = _labels(cc_csr_blocks(e, 4, "t_cc_blocks", max_iterations=40))
    assert conv == components_py(edges)
    ckpt = CheckpointManager(spark, str(tmp_path), "cc-conv")
    assert _labels(cc_checkpointed(spark, e, ckpt)) == conv
    s = ckpt.latest()
    assert ckpt.record(s)["converged"]
    # join CC's convergence mode stops at round s: round s - 1 is the
    # first to reach the fixpoint
    assert _labels(connected_components(e, fixed_iterations=s - 1)) == conv
    assert _labels(connected_components(e, fixed_iterations=s - 2)) != conv


def test_lpa_csr_blocks_equals_join_based(spark, edges_df, tmp_path):
    """LPA over CSR blobs (partial counts + global sum + deterministic
    argmax) and durable LPA must equal the join-based result
    bit-for-bit."""
    from linkgraph.algos.lpa import label_propagation
    from linkgraph.csr import lpa_csr_blocks, prepare_csr_blocks
    from linkgraph.pregel import CheckpointManager, lpa_checkpointed
    from linkgraph.synth import graph_edges

    edges = graph_edges("two_cliques_bridge")
    e = edges_df(edges)
    prepare_csr_blocks(e, k=4, strategy="grid", blocks_table="t_lpa_blocks")
    want = _labels(label_propagation(e, iterations=4), "label")
    got = _labels(lpa_csr_blocks(e, 4, "t_lpa_blocks", iterations=4), "label")
    assert got == want
    ckpt = CheckpointManager(spark, str(tmp_path), "lpa")
    assert _labels(lpa_checkpointed(spark, e, ckpt, iterations=4), "label") == want


def test_pagerank_csr_checkpointed_resumes(spark, edges_df, tmp_path):
    """North-star combination: CSR-blob gather-scatter execution WITH
    per-superstep durable checkpoints. Run 2 supersteps, 'crash',
    resume to 5 with the same run_id → identical to an uninterrupted
    5-superstep run AND to the in-memory CSR path."""
    from linkgraph.csr import pagerank_csr_blocks, prepare_csr_blocks
    from linkgraph.pregel import CheckpointManager
    from linkgraph.synth import graph_edges

    edges = graph_edges("powerlaw_ba", n=150, m=2, seed=3)
    e = edges_df(edges)
    prepare_csr_blocks(e, k=4, strategy="grid", blocks_table="t_ckpt_blocks")
    base = str(tmp_path / "ck")

    def ranks_of(df):
        return {r["vid"]: r["rank"] for r in df.collect()}

    full = ranks_of(
        pagerank_csr_blocks(
            e, 4, "t_ckpt_blocks", iterations=5,
            ckpt=CheckpointManager(spark, base, "full"),
        )
    )
    part_ck = CheckpointManager(spark, base, "crashy")
    pagerank_csr_blocks(e, 4, "t_ckpt_blocks", iterations=2, ckpt=part_ck)
    resumed = ranks_of(
        pagerank_csr_blocks(
            e, 4, "t_ckpt_blocks", iterations=5,
            ckpt=CheckpointManager(spark, base, "crashy"),
        )
    )
    assert set(full) == set(resumed)
    for v in full:
        assert abs(full[v] - resumed[v]) < 1e-12
    plain = ranks_of(
        pagerank_csr_blocks(
            e, 4, "t_ckpt_blocks", iterations=5, checkpoint_every=1
        )
    )
    for v in full:
        assert abs(full[v] - plain[v]) < 1e-12
    recs = CheckpointManager(spark, base, "crashy").counters()
    assert [c["superstep"] for c in recs] == [0, 1, 2, 3, 4, 5]
    assert all(c["edges_scanned"] > 0 for c in recs[1:])


def test_blob_k_mismatch_raises(spark, edges_df):
    """A caller's k smaller than the blobs table's partitioning fails
    loudly instead of silently misreading the table (ADVICE r3). The
    check is on the MAX partition id, so a table with EMPTY partitions
    (groupBy build writes no row for them) still validates at its own
    k."""
    import pytest as _pytest

    from linkgraph.csr import cc_csr_blocks, prepare_csr_blocks

    e = edges_df([(i, (i + 1) % 30) for i in range(30)])
    prepare_csr_blocks(e, k=16, strategy="grid", blocks_table="t_blob_k_chk")
    with _pytest.raises(ValueError, match=">= k=4"):
        cc_csr_blocks(e, 4, "t_blob_k_chk", fixed_iterations=1).collect()
    # a small graph may leave some of the 16 grid cells empty — the
    # table must still be accepted at the k it was built with
    got = {
        r["vid"]: r["component"]
        for r in cc_csr_blocks(
            e, 16, "t_blob_k_chk", fixed_iterations=31
        ).collect()
    }
    assert set(got.values()) == {0}


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_csr_kernels_release_storage(spark, edges_df, tmp_path):
    """Every CSR kernel releases its route table, its cached blobs and
    every rolled generation but the one it returns: after a call the
    persisted-RDD count is at most one above its start, and the
    returned state is still readable."""
    from linkgraph.csr import (
        cc_csr_blocks,
        lpa_csr_blocks,
        pagerank_csr_blocks,
        prepare_csr_blocks,
    )
    from linkgraph.pregel import CheckpointManager

    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5))
    prepare_csr_blocks(e, k=4, strategy="grid", blocks_table="t_csr_release")
    runs = {
        "in-memory": lambda: pagerank_csr(e, k=4, iterations=3),
        "in-memory-0": lambda: pagerank_csr(e, k=4, iterations=0),
        "blocks": lambda: pagerank_csr_blocks(e, 4, "t_csr_release", iterations=3),
        "blocks-0": lambda: pagerank_csr_blocks(e, 4, "t_csr_release", iterations=0),
        "ckpt": lambda: pagerank_csr_blocks(
            e, 4, "t_csr_release", iterations=2,
            ckpt=CheckpointManager(spark, str(tmp_path), "csr-release"),
        ),
        "ckpt-0": lambda: pagerank_csr_blocks(
            e, 4, "t_csr_release", iterations=0,
            ckpt=CheckpointManager(spark, str(tmp_path), "csr-release-0"),
        ),
        "cc": lambda: cc_csr_blocks(e, 4, "t_csr_release"),
        "cc-0": lambda: cc_csr_blocks(e, 4, "t_csr_release", max_iterations=0),
        "cc-fixed-0": lambda: cc_csr_blocks(
            e, 4, "t_csr_release", fixed_iterations=0
        ),
        "lpa": lambda: lpa_csr_blocks(e, 4, "t_csr_release", iterations=2),
        "lpa-0": lambda: lpa_csr_blocks(e, 4, "t_csr_release", iterations=0),
    }
    for name, run in runs.items():
        before = _persisted(spark)
        out = run()
        assert _persisted(spark) <= before + 1, name
        assert out.count() == 120, name
    spark.sql("DROP TABLE IF EXISTS t_csr_release")


def test_pagerank_csr_blocks_job_count_pinned(spark, edges_df):
    """One CSR superstep costs CSR_SUPERSTEP_JOBS jobs and setup at most
    CSR_SETUP_JOBS: a change that adds a job to either must say why."""
    from linkgraph.csr import pagerank_csr_blocks, prepare_csr_blocks

    sc = spark.sparkContext
    e = edges_df(graph_edges("powerlaw_ba", n=120, m=2, seed=5))
    prepare_csr_blocks(e, k=4, strategy="grid", blocks_table="t_csr_jobs")

    def jobs(iterations: int, tag: str = "") -> int:
        group = f"csr-jobs-{iterations}{tag}"
        sc.setJobGroup(group, "pagerank_csr_blocks job count")
        try:
            pagerank_csr_blocks(
                e, 4, "t_csr_jobs", iterations=iterations, checkpoint_every=1
            ).write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs(1, "-warm")  # the first read of a fresh table lists its files
    one, two, three = jobs(1), jobs(2), jobs(3)
    spark.sql("DROP TABLE IF EXISTS t_csr_jobs")
    assert three - two == CSR_SUPERSTEP_JOBS
    assert two - one == CSR_SUPERSTEP_JOBS
    assert one - CSR_SUPERSTEP_JOBS <= CSR_SETUP_JOBS
