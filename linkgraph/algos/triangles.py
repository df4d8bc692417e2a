"""Triangle counting via oriented adjacency-set intersection.

Input: canonical one-direction undirected edges (src < dst, no
self-loops, deduplicated). Under any acyclic edge orientation a
triangle has exactly one *base* edge (u, v) whose other corner is an
out-neighbor of both endpoints, so the triangles are exactly
{(u, v, w) : (u, v) ∈ E, w ∈ N⁺(u) ∩ N⁺(v)} — each found once.

Execution shape: one groupBy builds the sorted out-adjacency array per
vertex, cut once with ``localCheckpoint``. The base edges are the
exploded adjacency rows themselves (a, N⁺(a), b ∈ N⁺(a)), so the
oriented edge list is never scanned a second time; one join on b
fetches N⁺(b), and ``array_intersect`` finds the common out-neighbors
in-plan. Compared to the classic two-join wedge enumeration (e1 ⋈ e2
on the middle vertex, then a membership join on (a, c)), nothing
W-sized (W = Σ outdeg² ≫ m wedges) is ever shuffled: the only
exchanges are the degree aggregate and its two orientation joins, the
adjacency build and the one join on b, each O(m) rows at most, carrying
O(outdeg)-long arrays. Every consumer reads the per-edge ``common``
array through one projection, never a union of several references.

Why the checkpoint: the benchmark and bench.py pass a ``cache()``d
edge table, and Spark 4.1 does not reuse an exchange over a cached scan
(an aggregate self-joined over a cached source runs both shuffle
stages; over a ``localCheckpoint`` source the second is a
``ReusedExchange``, tests/test_spark_assumptions.py). Without the cut,
the degree aggregate ran 4 times and the adjacency build twice per
count on such an input. The adjacency is released by RDD id
(``rolling.release``) before the call returns: ``triangle_total``
returns a one-row local result that pins nothing, ``triangle_counts``
and ``triangle_list`` a checkpointed result, like the iterative
kernels.

The queries and jobs/run_job.py pass the uncached lineitem edge list,
over which Spark already reuses the shared exchanges; there the cut
costs 2–3 more jobs per call than the uncut plan (local[4]). A
``localCheckpoint`` keeps the uncut plan's static size estimate (61 GB
for a 1 MB adjacency at sf0.01), so the join on b is planned as a
shuffled join and shuffles the exploded (a, N⁺(a), b) rows: at sf0.01 the shuffle rises
1.5 → 5.4 MB at equal or lower wall time, at sf0.1 it falls (total 78
→ 72 MB, counts 118 → 73 MB) and so does wall time.

Scale note (``degree_oriented=True``, the default): edges are first
re-oriented from the (degree, vid)-smaller endpoint to the larger —
the standard compact-forward optimization. Both the adjacency arrays
and the intersection fan-out are then bounded by *oriented
out-degree*, which is O(√m) per vertex even on power-law graphs,
instead of by raw hub degree. The enumerated set is identical (each
triangle still found exactly once under the strict total order), so
the simple a<b<c SQL oracle matches.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Jobs on a cached input in the test session (local[4], 8 shuffle
# partitions), pinned by tests/test_algos.py. Six build and checkpoint
# the adjacency: the edge-side broadcast, the degree aggregate once per
# orientation join (a cached input reuses no exchange) and both degree
# broadcasts, then the groupBy and its checkpoint. triangle_total adds 3
# for the per-edge join and the count; triangle_counts adds 3 for the
# join, the per-vertex aggregate and its checkpoint, plus the write
# that forces the result
TRI_TOTAL_JOBS = 9
TRI_COUNT_JOBS = 10


def _orient_by_degree(edges: DataFrame) -> DataFrame:
    from linkgraph.graph import degrees

    # no broadcast hint: the degree table is O(|V|) — AQE broadcasts it
    # from runtime stats when it fits and falls back to a shuffled join
    # when it doesn't (a forced hint OOMs the driver at 10^9 vertices)
    deg = degrees(edges)
    ds = deg.withColumnRenamed("vid", "src").withColumnRenamed("degree", "deg_src")
    dd = deg.withColumnRenamed("vid", "dst").withColumnRenamed("degree", "deg_dst")
    e = edges.join(ds, "src").join(dd, "dst")
    lower_first = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def _adjacency_rows(edges: DataFrame, degree_oriented: bool) -> DataFrame:
    """Sorted out-adjacency per vertex, uncheckpointed →
    DataFrame[src, nbrs: array<long>]."""
    e = _orient_by_degree(edges) if degree_oriented else edges.select("src", "dst")
    return e.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))


@contextmanager
def _adjacency(edges: DataFrame, degree_oriented: bool = True) -> Iterator[DataFrame]:
    """The oriented adjacency, checkpointed for the ``with`` block and
    released by RDD id on exit: whatever reads it must be materialized
    inside the block."""
    from linkgraph.rolling import release

    adj = _adjacency_rows(edges, degree_oriented).localCheckpoint()
    try:
        yield adj
    finally:
        release(adj)


def _edge_common(adj: DataFrame) -> DataFrame:
    """Per base edge, the common out-neighbors of its endpoints →
    DataFrame[a, b, common: array<long>]. Every triangle appears
    exactly once, as one element of exactly one edge's ``common``
    (module docstring). Every edge is kept, including those whose head
    has no out-neighbors (empty ``common``), so every vertex with an
    edge appears as an ``a`` or a ``b``."""
    na = adj.select(
        F.col("src").alias("a"),
        F.col("nbrs").alias("_na"),
        F.explode("nbrs").alias("b"),
    )
    nb = adj.select(F.col("src").alias("b"), F.col("nbrs").alias("_nb"))
    common = F.coalesce(
        F.array_intersect("_na", "_nb"), F.array().cast("array<long>")
    )
    return na.join(nb, "b", "left").select("a", "b", common.alias("common"))


def _vertex_counts(adj: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an oriented adjacency, lazy →
    DataFrame[vid, triangles]. Each base edge's triangles contribute
    once to each corner: size of ``common`` to both endpoints, one per
    listed third corner — the same multiset as exploding the triangle
    list three ways, emitted from the one per-edge row by a single
    ``inline``. Every edge is kept, so its endpoints appear even at
    count 0."""
    t = F.size("common")
    members = _edge_common(adj).select(
        F.inline(
            F.concat(
                F.array(
                    F.struct(F.col("a").alias("vid"), t.alias("t")),
                    F.struct(F.col("b").alias("vid"), t.alias("t")),
                ),
                F.transform(
                    "common",
                    lambda c: F.struct(c.alias("vid"), F.lit(1).alias("t")),
                ),
            )
        )
    )
    return members.groupBy("vid").agg(F.sum("t").cast("long").alias("triangles"))


def triangle_list(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """Enumerate triangles once each → DataFrame[a, b, c] (orientation
    order — a→b, a→c, b→c — not sorted). Computed eagerly: the result
    is a ``localCheckpoint``, stored (MEMORY_AND_DISK) until the caller
    frees it with ``rolling.release``."""
    with _adjacency(edges, degree_oriented) as adj:
        return (
            _edge_common(adj)
            .select("a", "b", F.explode("common").alias("c"))
            .localCheckpoint()
        )


def triangle_counts(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """Per-vertex triangle counts → DataFrame[vid: long, triangles:
    long]. Vertices in no triangle are included with 0 (reference
    "true vertices" semantics — every vertex with ≥1 edge appears).
    Computed eagerly: the result is a ``localCheckpoint``, stored
    (MEMORY_AND_DISK) until the caller frees it with
    ``rolling.release``."""
    with _adjacency(edges, degree_oriented) as adj:
        return _vertex_counts(adj).localCheckpoint()


def triangle_total(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """Global triangle count → one-row DataFrame[n_triangles: long].
    Computed eagerly; the returned row is an inline table (a
    ``LocalRelation``), so it pins nothing and reading it runs no job."""
    with _adjacency(edges, degree_oriented) as adj:
        n = _edge_common(adj).agg(F.sum(F.size("common"))).collect()[0][0] or 0
    return edges.sparkSession.sql(
        f"SELECT * FROM VALUES (CAST({int(n)} AS BIGINT)) AS t(n_triangles)"
    )


def transitivity(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """Global transitivity (graph clustering coefficient):
    3·triangles / wedges, the closed-wedge fraction — the one-row
    census companion to the per-vertex ``clustering_coefficients``.

    Wedges are tallied per vertex as d(d−1) div 2 (integer division
    per row — exact even when Σd² would overflow a double's 53-bit
    mantissa at web scale), so both engines divide the same two longs.
    NULL on wedge-free graphs (a perfect matching). Cost: one
    triangle enumeration + one degree aggregate.
    """
    from linkgraph.graph import degrees

    tri = triangle_total(edges, degree_oriented)
    wedges = degrees(edges).agg(
        F.sum(F.expr("degree * (degree - 1) div 2")).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.try_divide(F.lit(3) * F.col("n_triangles"), F.col("n_wedges")), 6
        ).alias("transitivity"),
    )


TRI_SAMPLE_PCT = 50


def _sample_edges(edges: DataFrame, pct: int) -> DataFrame:
    """The edges whose portable hash H(src, dst) mod 100 is below ``pct``."""
    from linkgraph.hashing import md5_prefix_hash

    h = md5_prefix_hash(F.lit("tri"), F.col("src"), F.col("dst"))
    return edges.where((h % 100) < pct)


def triangle_estimate(edges: DataFrame, pct: int = TRI_SAMPLE_PCT) -> DataFrame:
    """Sampled triangle-count estimate with its exact-count audit.

    Each edge is kept iff H(src,dst) mod 100 < ``pct`` (the portable
    md5-prefix hash, so the "coin flips" replay identically in the SQL
    oracle); a triangle survives iff all three edges do, so
    E[T_sampled] = (pct/100)^3 · T and T̂ = T_sampled · (100/pct)^3 is
    unbiased (Tsourakakis et al.'s DOULION estimator). At 100 TB this
    is the cheap first pass — the wedge join runs on a pct^2-smaller
    edge set — and the exact column exists so the small-SF gate pins
    the arithmetic; production drops it.
    """
    exact = triangle_total(edges).withColumnRenamed("n_triangles", "n")
    samp = triangle_total(_sample_edges(edges, pct)).withColumnRenamed(
        "n_triangles", "ns"
    )
    factor = float((100 / pct) ** 3)
    return exact.crossJoin(samp).select(
        F.col("n").alias("n_triangles"),
        F.col("ns").alias("n_sampled"),
        F.round(F.col("ns") * F.lit(factor), 6).alias("estimate"),
        F.round(
            F.try_divide(F.col("ns") * F.lit(factor) - F.col("n"), F.col("n")), 6
        ).alias("rel_err"),
    )
