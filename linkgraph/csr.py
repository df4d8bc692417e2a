"""Per-partition CSR adjacency blocks + CSR-block PageRank.

The Spark mapping of the reference's ``graph_t`` prefix-sum CSR
(/root/reference/utils/graph.hpp:57-95, build at
/root/reference/utils/graph.cpp:5-45): each *graph partition* (from any
``linkgraph.partition`` strategy) becomes a local CSR block
(``indptr``/``indices`` numpy arrays) built inside an Arrow UDF.

Superstep = sparse gather-scatter over the blocks:

  1. ranks ⋈ mirrors(vid → partition) routes each vertex's rank to
     every partition holding one of its edges (one shuffle, the
     superstep's only wide dependency on the rank side);
  2. cogroup(edges-by-partition, routed-ranks-by-partition) →
     applyInPandas: the UDF builds/uses the local CSR and emits
     per-destination *partial* contribution sums (map-side combine in
     user space — a partition with 10^9 edges emits at most its local
     vertex count, not its edge count);
  3. global groupBy(vid).sum finalizes — the two-stage aggregation
     that makes hub skew survivable (P23 salting semantics built in:
     the partitioner already split hub edges across partitions, so
     each hub's partials arrive pre-aggregated per partition).

At 100 TB the edges side is written once, bucketed by partition, and
re-read per superstep; the ranks shuffle is sized by replication factor
(RF ≈ 2-4 with grid/HDRF) — this is exactly why partition quality
matters for superstep throughput.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_csr(src: np.ndarray, dst: np.ndarray):
    """Local CSR from an edge batch: (unique_srcs, indptr, indices).
    Prefix-sum build mirroring the reference semantics
    (/root/reference/utils/graph.cpp:19-43)."""
    order = np.lexsort((dst, src))
    s, d = src[order], dst[order]
    uniq, counts = np.unique(s, return_counts=True)
    indptr = np.concatenate(([0], np.cumsum(counts)))
    return uniq, indptr, d


def drop_table_and_location(spark, table: str) -> None:
    """DROP TABLE IF EXISTS + clear a stale warehouse directory.

    A killed run can leave the managed table's directory on disk
    without a catalog entry in the next session; ``saveAsTable`` then
    fails with LOCATION_ALREADY_EXISTS. Only local ``file:`` warehouse
    locations are swept (the test/bench path); on a real catalog the
    DROP alone is authoritative."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        if wh.scheme in ("", "file"):
            shutil.rmtree(f"{wh.path}/{table.lower()}", ignore_errors=True)
    except Exception:
        pass


def prepare_bucketed_edges(
    edges: DataFrame,
    k: int,
    strategy: str = "grid",
    bucket_table: str = "csr_edges_bucketed",
    hasher: str = "xxhash64",
) -> None:
    """One-time materialization of the partitioned, symmetrized edge
    set as a table bucketed on the graph-partition column. This is the
    'edges written once' half of the 100 TB story: every later
    CSR-block superstep cogroups against this table with ZERO edge-side
    exchanges. Pass the table name to ``pagerank_csr(...,
    bucket_table=..., prebuilt=True)`` to amortize the write across
    runs/iterations."""
    from linkgraph.graph import symmetrize
    from linkgraph.partition.strategies import partition_edges

    spark = edges.sparkSession
    parted = partition_edges(symmetrize(edges), strategy, k, hasher=hasher)
    drop_table_and_location(spark, bucket_table)
    (
        parted.write.bucketBy(k, "partition")
        .sortBy("partition", "src")
        .mode("overwrite")
        .saveAsTable(bucket_table)
    )


def prepare_csr_blocks(
    edges: DataFrame,
    k: int,
    strategy: str = "grid",
    blocks_table: str = "csr_blocks",
    hasher: str = "xxhash64",
) -> None:
    """Materialize PREBUILT per-partition CSR blocks as binary blobs —
    the SURVEY §4 'CSR block caching' design, one step beyond the
    bucketed edge table: the prefix-sum build (lexsort + unique) runs
    ONCE at write time, and each superstep's cogroup ships k blob rows
    through Arrow instead of |E| edge rows (same bytes, none of the
    per-row columnar/pandas overhead — measured ~2× faster supersteps
    at sf0.1). Table layout: (partition, uniq, indptr, indices) with
    the arrays as raw little-endian int64 bytes, bucketed by partition
    so the per-superstep scan has zero exchange."""
    from linkgraph.graph import symmetrize
    from linkgraph.partition.strategies import partition_edges

    spark = edges.sparkSession
    parted = partition_edges(symmetrize(edges), strategy, k, hasher=hasher)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["partition"].iloc[0])
        uniq, indptr, indices = build_csr(
            pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        )
        return pd.DataFrame(
            {
                "partition": [part],
                "uniq": [uniq.astype("<i8").tobytes()],
                "indptr": [indptr.astype("<i8").tobytes()],
                "indices": [indices.astype("<i8").tobytes()],
            }
        )

    blocks = parted.groupBy("partition").applyInPandas(
        build, schema="partition long, uniq binary, indptr binary, indices binary"
    )
    drop_table_and_location(spark, blocks_table)
    (
        blocks.write.bucketBy(k, "partition")
        .mode("overwrite")
        .saveAsTable(blocks_table)
    )


def pagerank_csr_blocks(
    edges: DataFrame,
    k: int,
    blocks_table: str,
    iterations: int = 20,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    superstep_times: list | None = None,
    ckpt=None,
    resume: bool = True,
) -> DataFrame:
    """PageRank over PREBUILT CSR blobs (see ``prepare_csr_blocks``).
    Numerically identical to ``pagerank_csr`` with the same partition
    strategy (same gather-scatter math, same float order within a
    block). Per superstep: routes ⋈ ranks (one shuffle) cogrouped with
    the k-row blob scan (zero exchange) → per-destination partials →
    global sum.

    The routing table (vid → partitions holding its out-edges, with
    static out-degree folded in) is derived from the blobs ONCE and
    force-materialized into the cache before the loop — no superstep
    re-derives it (the round-2 bench artifact hid this setup cost
    inside superstep 1).

    ``superstep_times``: pass a list to receive per-superstep wall
    seconds (meaningful with ``checkpoint_every=1``, where every
    superstep ends in an eager localCheckpoint).

    ``ckpt``: a ``linkgraph.pregel.CheckpointManager`` — every
    superstep then writes a DURABLE snapshot with lineage counters
    (edges scanned = routed-rank rows bound, messages = partials) and
    the run resumes from the highest complete superstep (kill + rerun
    with the same run_id ⇒ identical final ranks,
    tests/test_csr.py::test_pagerank_csr_checkpointed_resumes). This is
    the north-star combination: CSR-block gather-scatter execution AND
    per-superstep durable checkpointing in one loop."""
    import time

    from linkgraph.graph import vertices
    from linkgraph.rolling import RollingCheckpoint

    spark = edges.sparkSession
    blocks = spark.table(blocks_table)
    _check_blob_k(blocks, k, blocks_table)

    def unpack(b: bytes) -> np.ndarray:
        return np.frombuffer(b, dtype="<i8")

    # routing (+ static outdeg) derived from the blobs themselves:
    # outdeg of a source vertex = its CSR row length summed over blocks
    def routes_of(batches):
        for pdf in batches:
            for part, uniq_b, indptr_b in zip(
                pdf["partition"], pdf["uniq"], pdf["indptr"]
            ):
                uniq = unpack(uniq_b)
                indptr = unpack(indptr_b)
                yield pd.DataFrame(
                    {
                        "vid": uniq,
                        "part": part,
                        "deg_local": np.diff(indptr),
                    }
                )

    local = blocks.mapInPandas(
        routes_of, schema="vid long, part long, deg_local long"
    )
    out_deg = local.groupBy("vid").agg(F.sum("deg_local").alias("outdeg"))
    routes = local.select("vid", "part").join(out_deg, "vid").cache()
    routes.count()  # materialize the routing table OUTSIDE the loop
    verts = vertices(edges).cache()
    n = verts.count()
    teleport = (1.0 - damping) / n

    def step(key, blk_pdf: pd.DataFrame, ranks_pdf: pd.DataFrame) -> pd.DataFrame:
        if blk_pdf.empty or ranks_pdf.empty:
            return pd.DataFrame({"vid": [], "partial": []}).astype(
                {"vid": "int64", "partial": "float64"}
            )
        row = blk_pdf.iloc[0]
        uniq = unpack(row["uniq"])
        indptr = unpack(row["indptr"])
        indices = unpack(row["indices"])
        rv = ranks_pdf["vid"].to_numpy()
        rorder = np.argsort(rv)
        pos = np.searchsorted(rv[rorder], uniq)
        contrib = (
            ranks_pdf["rank"].to_numpy()[rorder][pos]
            / ranks_pdf["outdeg"].to_numpy()[rorder][pos]
        )
        per_edge = np.repeat(contrib, np.diff(indptr))
        dsts, inv = np.unique(indices, return_inverse=True)
        partial = np.zeros(len(dsts), dtype=np.float64)
        np.add.at(partial, inv, per_edge)
        return pd.DataFrame({"vid": dsts, "partial": partial})

    roll = RollingCheckpoint()
    start = 0
    if ckpt is not None:
        m2 = 2 * edges.count()  # directed darts scanned per superstep
        latest = ckpt.latest() if resume else None
        if latest is None:
            ranks = ckpt.write(
                0, verts.withColumn("rank", F.lit(1.0 / n)),
                {"edges_scanned": 0, "messages_sent": 0,
                 "max_partition_skew": 0.0, "wall_ms": 0.0},
            )
        else:
            from linkgraph.pregel import _warn_if_beyond

            _warn_if_beyond(ckpt, latest, iterations)
            ranks = ckpt.read(latest)
            start = latest
    else:
        ranks = roll(verts.withColumn("rank", F.lit(1.0 / n)))
    for i in range(start, iterations):
        t0 = time.perf_counter()
        routed = routes.join(ranks, "vid").select("part", "vid", "rank", "outdeg")
        partials = (
            blocks.groupby("partition")
            .cogroup(routed.groupby("part"))
            .applyInPandas(step, schema="vid long, partial double")
        )
        new_ranks = partials.groupBy("vid").agg(
            (F.lit(teleport) + F.lit(damping) * F.sum("partial")).alias("rank")
        )
        if ckpt is not None:
            new_ranks = ckpt.write(
                i + 1, new_ranks,
                {"edges_scanned": m2, "messages_sent": m2},
                t0=t0,
            )  # max_partition_skew folded into the snapshot write
        elif (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            new_ranks = roll(new_ranks)
        ranks = new_ranks
        if superstep_times is not None:
            superstep_times.append(time.perf_counter() - t0)
    return ranks.select("vid", "rank")


def _check_blob_k(blocks: DataFrame, k: int, blocks_table: str) -> None:
    """The blobs table is built for a fixed partitioning; a caller's
    ``k`` that disagrees would silently run with the table's actual
    partitioning (ADVICE r3) — fail loudly instead. Empty partitions
    write no blob row (groupBy-based build), so the robust check is on
    the MAX partition id: an id ≥ k proves the table was built for a
    larger k. This is a ≤ k-row aggregate."""
    mx = blocks.select(F.max("partition")).first()[0]
    if mx is not None and mx >= k:
        raise ValueError(
            f"blobs table {blocks_table!r} holds partition id {mx} >= k={k}; "
            f"it was built for a larger k — rebuild with "
            f"prepare_csr_blocks(..., k={k}) or pass the table's k"
        )


def _blob_routes(blocks: DataFrame) -> DataFrame:
    """(vid, part) routing pairs derived from prebuilt CSR blobs —
    which partitions hold each vertex's out-edges (= which partitions
    need its state each superstep)."""

    def routes_of(batches):
        for pdf in batches:
            for part, uniq_b in zip(pdf["partition"], pdf["uniq"]):
                yield pd.DataFrame(
                    {"vid": np.frombuffer(uniq_b, dtype="<i8"), "part": part}
                )

    return blocks.mapInPandas(routes_of, schema="vid long, part long")


def cc_csr_blocks(
    edges: DataFrame,
    k: int,
    blocks_table: str,
    max_iterations: int = 50,
    fixed_iterations: int | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Hash-min connected components executed as gather-scatter over
    prebuilt CSR blobs (the north-star execution shape for CC, same
    machinery as ``pagerank_csr_blocks``). Per superstep: labels route
    to the partitions holding each vertex's edges (one shuffle),
    cogroup with the k-row blob scan (zero exchange), the UDF computes
    per-destination PARTIAL label minima (``np.minimum.at`` segment
    min — a partition emits its local vertex count, not its edge
    count), and the global min folds the partials with each vertex's
    own label. Integer min is exact, so results equal the join-based
    ``connected_components`` bit-for-bit at the same round count
    (tests/test_csr.py)."""
    from linkgraph.graph import vertices
    from linkgraph.rolling import RollingCheckpoint

    spark = edges.sparkSession
    blocks = spark.table(blocks_table)
    _check_blob_k(blocks, k, blocks_table)
    routes = _blob_routes(blocks).cache()
    routes.count()

    def unpack(b: bytes) -> np.ndarray:
        return np.frombuffer(b, dtype="<i8")

    def step(key, blk_pdf: pd.DataFrame, lab_pdf: pd.DataFrame) -> pd.DataFrame:
        if blk_pdf.empty or lab_pdf.empty:
            return pd.DataFrame({"vid": [], "partial": []}).astype(
                {"vid": "int64", "partial": "int64"}
            )
        row = blk_pdf.iloc[0]
        uniq = unpack(row["uniq"])
        indptr = unpack(row["indptr"])
        indices = unpack(row["indices"])
        lv = lab_pdf["vid"].to_numpy()
        order = np.argsort(lv)
        pos = np.searchsorted(lv[order], uniq)
        src_lab = lab_pdf["component"].to_numpy()[order][pos]
        per_edge = np.repeat(src_lab, np.diff(indptr))
        dsts, inv = np.unique(indices, return_inverse=True)
        partial = np.full(len(dsts), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(partial, inv, per_edge)
        return pd.DataFrame({"vid": dsts, "partial": partial})

    roll = RollingCheckpoint()
    labels = roll(vertices(edges).withColumn("component", F.col("vid")))
    rounds = fixed_iterations if fixed_iterations is not None else max_iterations
    prev_sum = None
    for i in range(rounds):
        routed = routes.join(labels, "vid").select("part", "vid", "component")
        partials = (
            blocks.groupby("partition")
            .cogroup(routed.groupby("part"))
            .applyInPandas(step, schema="vid long, partial long")
        )
        new_labels = (
            labels.select("vid", F.col("component").alias("partial"))
            .unionByName(partials)
            .groupBy("vid")
            .agg(F.min("partial").alias("component"))
        )
        at_checkpoint = (i + 1) % checkpoint_every == 0 or i == rounds - 1
        obs = None
        if fixed_iterations is None and at_checkpoint:
            # convergence sum rides the checkpoint as an Observation
            # (zero extra jobs — the cc.py/scc.py pattern)
            from pyspark.sql import Observation

            obs = Observation()
            new_labels = new_labels.observe(
                obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            )
        if at_checkpoint:
            new_labels = roll(new_labels)
        labels = new_labels
        if obs is not None:
            cur_sum = obs.get["s"]
            if prev_sum is not None and cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return labels.select("vid", "component")


def lpa_csr_blocks(
    edges: DataFrame,
    k: int,
    blocks_table: str,
    iterations: int = 10,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Synchronous label propagation over prebuilt CSR blobs. Per
    superstep the UDF emits per-(destination, label) PARTIAL counts
    (``np.unique`` over the routed label darts — a partition's output
    is bounded by its distinct (dst, label) pairs, the same map-side
    combine the join-based path gets from Spark), the global aggregate
    sums partials, and the argmax window (cnt desc, label asc — the
    deterministic tie-break) runs over aggregated counts only.
    Integer counts are exact ⇒ results equal ``label_propagation``
    bit-for-bit at the same round count (tests/test_csr.py)."""
    from pyspark.sql import Window

    from linkgraph.graph import vertices
    from linkgraph.rolling import RollingCheckpoint

    spark = edges.sparkSession
    blocks = spark.table(blocks_table)
    _check_blob_k(blocks, k, blocks_table)
    routes = _blob_routes(blocks).cache()
    routes.count()

    def unpack(b: bytes) -> np.ndarray:
        return np.frombuffer(b, dtype="<i8")

    def step(key, blk_pdf: pd.DataFrame, lab_pdf: pd.DataFrame) -> pd.DataFrame:
        if blk_pdf.empty or lab_pdf.empty:
            return pd.DataFrame({"vid": [], "label": [], "cnt": []}).astype(
                {"vid": "int64", "label": "int64", "cnt": "int64"}
            )
        row = blk_pdf.iloc[0]
        uniq = unpack(row["uniq"])
        indptr = unpack(row["indptr"])
        indices = unpack(row["indices"])
        lv = lab_pdf["vid"].to_numpy()
        order = np.argsort(lv)
        pos = np.searchsorted(lv[order], uniq)
        src_lab = lab_pdf["label"].to_numpy()[order][pos]
        per_edge = np.repeat(src_lab, np.diff(indptr))
        pairs = np.stack([indices, per_edge], axis=1)
        u, cnt = np.unique(pairs, axis=0, return_counts=True)
        return pd.DataFrame(
            {"vid": u[:, 0], "label": u[:, 1], "cnt": cnt.astype(np.int64)}
        )

    roll = RollingCheckpoint()
    labels = roll(vertices(edges).withColumn("label", F.col("vid")))
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))
    for i in range(iterations):
        routed = routes.join(labels, "vid").select("part", "vid", "label")
        partials = (
            blocks.groupby("partition")
            .cogroup(routed.groupby("part"))
            .applyInPandas(step, schema="vid long, label long, cnt long")
        )
        counts = partials.groupBy("vid", "label").agg(F.sum("cnt").alias("cnt"))
        new_labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vid", "label")
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            new_labels = roll(new_labels)
        labels = new_labels
    return labels.select("vid", "label")


def pagerank_csr(
    edges: DataFrame,
    k: int = 32,
    strategy: str = "grid",
    iterations: int = 20,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    hasher: str = "xxhash64",
    bucket_table: str | None = None,
    prebuilt: bool = False,
    superstep_times: list | None = None,
) -> DataFrame:
    """PageRank executed as gather-scatter over per-partition CSR
    blocks (north-star execution shape). Numerically equivalent to
    ``linkgraph.algos.pagerank`` (same update rule; float sum order
    differs ⇒ agreement to ~1e-12, well inside the 1e-6 tolerance).

    ``bucket_table``: persist the partitioned edges ONCE as a table
    bucketed on the graph-partition column — the CSR-block-caching
    path (SURVEY.md §4 item 4). The per-superstep cogroup then reads
    the bucketed scan with ZERO exchanges on the edge side (verified:
    0 Exchange nodes in the formatted plan); only the |V|·RF-sized
    rank routing moves per superstep. This is the 100 TB shape: edge
    blocks are written once, co-located forever."""
    from linkgraph.graph import symmetrize, vertices
    from linkgraph.partition.strategies import partition_edges

    if bucket_table is not None and prebuilt:
        # the bucketed table IS the symmetrized+partitioned edge set;
        # out-degree is derivable from it (each directed dart appears
        # exactly once), so the raw edge scan is never touched again
        parted = edges.sparkSession.table(bucket_table)
    else:
        sym = symmetrize(edges)
        parted = partition_edges(sym, strategy, k, hasher=hasher)
        if bucket_table is not None:
            spark = edges.sparkSession
            drop_table_and_location(spark, bucket_table)
            (
                parted.write.bucketBy(k, "partition")
                .sortBy("partition", "src")
                .mode("overwrite")
                .saveAsTable(bucket_table)
            )
            parted = spark.table(bucket_table)
        else:
            parted = parted.cache()
    out_deg = parted.groupBy("src").agg(F.count("*").alias("outdeg"))
    # mirror routing table: which partitions need each vertex's rank
    # (only as a *source* — gather side), i.e. distinct (src, partition),
    # with the static out-degree FOLDED IN once — the per-superstep work
    # is then a single join (routes ⋈ ranks) instead of two
    routes = (
        parted.select(
            F.col("src").alias("vid"), F.col("partition").alias("part")
        )
        .distinct()
        .join(out_deg.select(F.col("src").alias("vid"), "outdeg"), "vid")
        .cache()
    )
    routes.count()  # materialize the routing table OUTSIDE the loop
    verts = vertices(edges).cache()
    n = verts.count()
    teleport = (1.0 - damping) / n

    import time

    from linkgraph.rolling import RollingCheckpoint

    roll = RollingCheckpoint()
    ranks = roll(verts.withColumn("rank", F.lit(1.0 / n)))

    def step(key, edges_pdf: pd.DataFrame, ranks_pdf: pd.DataFrame) -> pd.DataFrame:
        if edges_pdf.empty or ranks_pdf.empty:
            return pd.DataFrame({"vid": [], "partial": []}).astype(
                {"vid": "int64", "partial": "float64"}
            )
        src = edges_pdf["src"].to_numpy()
        dst = edges_pdf["dst"].to_numpy()
        uniq, indptr, indices = build_csr(src, dst)
        # align routed ranks to the CSR's source vertices
        rv = ranks_pdf["vid"].to_numpy()
        rorder = np.argsort(rv)
        pos = np.searchsorted(rv[rorder], uniq)
        contrib = (
            ranks_pdf["rank"].to_numpy()[rorder][pos]
            / ranks_pdf["outdeg"].to_numpy()[rorder][pos]
        )
        # scatter: repeat each src's contribution across its out-edges,
        # then segment-sum by destination (local partial aggregation)
        per_edge = np.repeat(contrib, np.diff(indptr))
        dsts, inv = np.unique(indices, return_inverse=True)
        partial = np.zeros(len(dsts), dtype=np.float64)
        np.add.at(partial, inv, per_edge)
        return pd.DataFrame({"vid": dsts, "partial": partial})

    for i in range(iterations):
        t0 = time.time()
        routed = routes.join(ranks, "vid").select(
            "part", "vid", "rank", "outdeg"
        )
        partials = (
            parted.groupby("partition")
            .cogroup(routed.groupby("part"))
            .applyInPandas(step, schema="vid long, partial double")
        )
        new_ranks = partials.groupBy("vid").agg(
            (F.lit(teleport) + F.lit(damping) * F.sum("partial")).alias("rank")
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            new_ranks = roll(new_ranks)
        ranks = new_ranks
        if superstep_times is not None:
            superstep_times.append(time.time() - t0)
    return ranks.select("vid", "rank")
