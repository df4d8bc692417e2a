"""Per-partition CSR blobs and the one gather-scatter superstep.

The Spark mapping of the reference's ``graph_t`` prefix-sum CSR
(``utils/graph.hpp``, built in ``utils/graph.cpp``): each *graph
partition* (from any ``linkgraph.partition`` strategy) becomes one CSR
block, built once by ``csr_blobs`` as a row ``(partition, uniq, indptr,
indices)`` of raw little-endian int64 arrays. ``prepare_csr_blocks``
writes the blobs to a table bucketed on partition (the superstep's blob
scan then has zero exchange); ``pagerank_csr`` caches them instead.

PageRank, CC and LPA run the same superstep (``_run``, a step that
``linkgraph.iterate.iterate`` loops over, rolled or with a durable
snapshot per round):

  1. state ⋈ routes sends each vertex's value to every partition that
     holds one of its out-edges (one shuffle sized |V|·RF, which is why
     partition quality matters for superstep throughput);
  2. cogroup(blobs, routed values) by partition: one Arrow UDF per block
     repeats the values over the block's CSR rows and folds them per
     destination with the kernel's combine (sum, min, or (destination,
     label) counts), so a block emits at most its local vertex count;
  3. a per-kernel Spark finalize over the partials (teleport +
     damping·sum, min with the own label, count sum + argmax) — the
     second stage of a two-stage aggregation, so a hub whose edges the
     partitioner split arrives pre-aggregated per block.

A superstep ships k blob rows through one Arrow crossing instead of |E|
edge rows: a removed edge-row cogroup that rebuilt the CSR every
superstep took 0.96-1.00 s per superstep at sf0.1 against 0.60-0.62 s
for blobs (BENCH/BASELINE.md). The crossing's data conversion is not
what a small superstep pays for (``applyInArrow`` and ``applyInPandas``
measured alike on a 400k-edge cogroup). Its fixed cost per Python task
was: PySpark's worker re-read every zip archive on its path before each
task, about 100 ms per task on a 4-vCPU VM, which the
``linkgraph.pyworker`` daemon removes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BLOB_SCHEMA = "partition long, uniq binary, indptr binary, indices binary"


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


def _unpack(b: bytes) -> np.ndarray:
    return np.frombuffer(b, dtype="<i8")


def csr_blobs(
    edges: DataFrame,
    k: int,
    strategy: str = "grid",
    hasher: str = "xxhash64",
) -> DataFrame:
    """One CSR blob row per non-empty partition of the symmetrized,
    partitioned edge set (lazy). The prefix-sum build (lexsort +
    unique) runs here once, never inside a superstep."""
    from linkgraph.graph import symmetrize
    from linkgraph.partition.strategies import partition_edges

    parted = partition_edges(symmetrize(edges), strategy, k, hasher=hasher)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        uniq, indptr, indices = build_csr(
            pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        )
        return pd.DataFrame(
            {
                "partition": [int(pdf["partition"].iloc[0])],
                "uniq": [uniq.astype("<i8").tobytes()],
                "indptr": [indptr.astype("<i8").tobytes()],
                "indices": [indices.astype("<i8").tobytes()],
            }
        )

    return parted.groupBy("partition").applyInPandas(build, schema=_BLOB_SCHEMA)


def prepare_csr_blocks(
    edges: DataFrame,
    k: int,
    strategy: str = "grid",
    blocks_table: str = "csr_blocks",
    hasher: str = "xxhash64",
) -> None:
    """Write ``csr_blobs`` to ``blocks_table``, bucketed by partition so
    the superstep's blob scan has zero exchange (SURVEY §4 'CSR block
    caching': written once, read by every superstep of every run)."""
    spark = edges.sparkSession
    drop_table_and_location(spark, blocks_table)
    (
        csr_blobs(edges, k, strategy, hasher)
        .write.bucketBy(k, "partition")
        .mode("overwrite")
        .saveAsTable(blocks_table)
    )


def _routes(blocks: DataFrame, k: int, source: str) -> tuple[DataFrame, dict]:
    """The run's routing table, derived from the blobs once: ``vid``,
    ``parts`` (the partitions holding its out-edges, i.e. the blocks
    that need its state each superstep) and ``outdeg`` (its CSR row
    lengths summed over those blocks). The input is symmetrized, so
    every vertex is a source in some block and the rows are the vertex
    set. Cut with ``localCheckpoint``; the caller releases it. Returns
    the table and its statistics ``n`` (vertices), ``m2`` (directed
    darts) and ``mx`` (largest partition id), read off the same job.

    A blobs table is built for a fixed partitioning; a caller's ``k``
    that disagrees would silently run with the table's actual
    partitioning (ADVICE r3), so fail loudly instead. Empty partitions
    write no blob row, so the check is on the largest partition id: an
    id ≥ k proves the blobs were built for a larger k."""
    from pyspark.sql import Observation

    from linkgraph.rolling import release

    def routes_of(batches):
        for pdf in batches:
            for part, uniq_b, indptr_b in zip(
                pdf["partition"], pdf["uniq"], pdf["indptr"]
            ):
                yield pd.DataFrame(
                    {
                        "vid": _unpack(uniq_b),
                        "part": part,
                        "deg_local": np.diff(_unpack(indptr_b)),
                    }
                )

    obs = Observation()
    routes = (
        blocks.mapInPandas(routes_of, schema="vid long, part long, deg_local long")
        .groupBy("vid")
        .agg(
            F.collect_list("part").alias("parts"),
            F.sum("deg_local").alias("outdeg"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("outdeg").alias("m2"),
            F.max(F.array_max("parts")).alias("mx"),
        )
        .localCheckpoint()
    )
    stats = obs.get
    if stats["mx"] is not None and stats["mx"] >= k:
        release(routes)
        raise ValueError(
            f"blobs {source!r} hold partition id {stats['mx']} >= k={k}; "
            f"they were built for a larger k — rebuild with "
            f"prepare_csr_blocks(..., k={k}) or pass the table's k"
        )
    return routes, stats


def _gather(blk_pdf: pd.DataFrame, val_pdf: pd.DataFrame):
    """The shared gather step: unpack the block's CSR, align the routed
    values to its source vertices and repeat each over its CSR row.
    Returns (destination, source value) per edge of the block."""
    row = blk_pdf.iloc[0]
    uniq, indptr, indices = (_unpack(row[c]) for c in ("uniq", "indptr", "indices"))
    vids = val_pdf["vid"].to_numpy()
    order = np.argsort(vids)
    pos = np.searchsorted(vids[order], uniq)
    values = val_pdf["value"].to_numpy()[order][pos]
    return indices, np.repeat(values, np.diff(indptr))


def _fold(ufunc, identity):
    """Combine: per-destination partial ``ufunc`` fold of the gathered
    values (``np.add`` for PageRank, ``np.minimum`` for CC)."""

    def combine(dst: np.ndarray, val: np.ndarray) -> pd.DataFrame:
        dsts, inv = np.unique(dst, return_inverse=True)
        partial = np.full(len(dsts), identity, dtype=val.dtype)
        ufunc.at(partial, inv, val)
        return pd.DataFrame({"vid": dsts, "partial": partial})

    return combine


def _label_counts(dst: np.ndarray, val: np.ndarray) -> pd.DataFrame:
    """Combine for LPA: partial count per (destination, label) — a
    block's output is bounded by its distinct pairs, the same map-side
    combine the join-based path gets from Spark."""
    pairs, cnt = np.unique(np.stack([dst, val], axis=1), axis=0, return_counts=True)
    return pd.DataFrame(
        {"vid": pairs[:, 0], "label": pairs[:, 1], "cnt": cnt.astype(np.int64)}
    )


def _run(
    blocks: DataFrame,
    routes: DataFrame,
    start: DataFrame,
    value,
    combine,
    schema: str,
    finalize,
    rounds: int,
    **loop,
) -> DataFrame:
    """``iterate`` the CSR superstep from ``start``: each round joins
    ``routes`` with the state, routes ``value`` (a column of the joined
    row) to the blocks, runs ``_gather`` + ``combine`` per block
    (partials of ``schema``) and builds the next state with
    ``finalize(partials, state)``. ``loop`` is ``iterate``'s cadence,
    stop test and sink arguments. ``routes`` is released on return."""
    from linkgraph.iterate import iterate
    from linkgraph.rolling import release

    def step(key, blk_pdf: pd.DataFrame, val_pdf: pd.DataFrame) -> pd.DataFrame:
        # both sides are never empty: routes come from the blobs, and the
        # state keeps every vertex (each one is some edge's destination)
        return combine(*_gather(blk_pdf, val_pdf))

    def superstep(state: DataFrame, *_) -> DataFrame:
        routed = routes.join(state, "vid").select(
            F.explode("parts").alias("part"), "vid", value.alias("value")
        )
        partials = (
            blocks.groupby("partition")
            .cogroup(routed.groupby("part"))
            .applyInPandas(step, schema=schema)
        )
        return finalize(partials, state)

    try:
        return iterate(start, superstep, rounds, **loop)
    finally:
        release(routes)


def _pagerank(
    blocks: DataFrame, k: int, source: str, iterations: int, damping: float,
    **loop,
) -> DataFrame:
    """PageRank over a blobs DataFrame; ``loop`` goes to ``iterate``."""
    routes, stats = _routes(blocks, k, source)
    n, m2 = stats["n"], stats["m2"]
    teleport = (1.0 - damping) / n

    def finalize(partials: DataFrame, ranks: DataFrame) -> DataFrame:
        return partials.groupBy("vid").agg(
            (F.lit(teleport) + F.lit(damping) * F.sum("partial")).alias("rank")
        )

    return _run(
        blocks, routes, routes.select("vid", F.lit(1.0 / n).alias("rank")),
        # one routed double per vertex: the gather then moves a single value
        value=F.col("rank") / F.col("outdeg"),
        combine=_fold(np.add, 0.0),
        schema="vid long, partial double",
        finalize=finalize,
        rounds=iterations,
        counters={"edges_scanned": m2, "messages_sent": m2},
        **loop,
    ).select("vid", "rank")


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
    """PageRank over the CSR blobs in ``blocks_table`` (see
    ``prepare_csr_blocks``); ``edges`` only supplies the session, since
    the blobs carry the whole graph. Numerically identical to
    ``pagerank_csr`` with the same partition strategy. ``ckpt``: a
    ``linkgraph.pregel.CheckpointManager``; every superstep then writes
    a durable snapshot with lineage counters (edges scanned = messages
    = directed darts) and a rerun with the same run_id resumes from the
    highest complete superstep."""
    return _pagerank(
        edges.sparkSession.table(blocks_table), k, blocks_table, iterations,
        damping, every=checkpoint_every, times=superstep_times, sink=ckpt,
        resume=resume,
    )


def pagerank_csr(
    edges: DataFrame,
    k: int = 32,
    strategy: str = "grid",
    iterations: int = 20,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    hasher: str = "xxhash64",
    superstep_times: list | None = None,
) -> DataFrame:
    """One-call PageRank over per-partition CSR blocks: the blobs of
    ``edges`` under ``strategy`` are cached (no table) for the run and
    released after it. Agrees with ``linkgraph.algos.pagerank`` to
    ~1e-12 (same update rule, different float sum order)."""
    from linkgraph.rolling import release

    blobs = csr_blobs(edges, k, strategy, hasher).cache()
    try:
        return _pagerank(
            blobs, k, f"{strategy} blobs", iterations, damping,
            every=checkpoint_every, times=superstep_times,
        )
    finally:
        release(blobs)


def cc_csr_blocks(
    edges: DataFrame,
    k: int,
    blocks_table: str,
    max_iterations: int = 50,
    fixed_iterations: int | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Hash-min connected components over the CSR blobs in
    ``blocks_table``; without ``fixed_iterations`` the loop stops at the
    first round that changes no label, the stop rule of the join-based
    ``connected_components``: the finalize carries each vertex's previous
    label as ``own``. Integer min is exact, so results equal the
    join-based kernel bit-for-bit at the same round count
    (tests/test_csr.py)."""
    from linkgraph.algos.cc import _min_label, _watch

    blocks = edges.sparkSession.table(blocks_table)
    routes, _ = _routes(blocks, k, blocks_table)

    def finalize(partials: DataFrame, labels: DataFrame) -> DataFrame:
        return _min_label(partials.withColumnRenamed("partial", "component"), labels)

    converge = fixed_iterations is None
    return _run(
        blocks, routes, routes.select("vid", F.col("vid").alias("component")),
        value=F.col("component"),
        combine=_fold(np.minimum, np.iinfo(np.int64).max),
        schema="vid long, partial long",
        finalize=finalize,
        rounds=max_iterations if converge else fixed_iterations,
        every=checkpoint_every,
        watch=_watch() if converge else None,
        until=lambda seen: seen["changed"] == 0,
    ).select("vid", "component")


def lpa_csr_blocks(
    edges: DataFrame,
    k: int,
    blocks_table: str,
    iterations: int = 10,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Synchronous label propagation over the CSR blobs in
    ``blocks_table``: the argmax window (cnt desc, label asc — the
    deterministic tie-break) runs over the summed partial counts only.
    Integer counts are exact ⇒ results equal ``label_propagation``
    bit-for-bit at the same round count (tests/test_csr.py)."""
    from linkgraph.algos.lpa import _adopt

    blocks = edges.sparkSession.table(blocks_table)
    routes, _ = _routes(blocks, k, blocks_table)

    def finalize(partials: DataFrame, labels: DataFrame) -> DataFrame:
        return _adopt(partials.groupBy("vid", "label").agg(F.sum("cnt").alias("cnt")))

    return _run(
        blocks, routes, routes.select("vid", F.col("vid").alias("label")),
        value=F.col("label"),
        combine=_label_counts,
        schema="vid long, label long, cnt long",
        finalize=finalize,
        rounds=iterations,
        every=checkpoint_every,
    ).select("vid", "label")
