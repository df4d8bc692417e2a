"""Edge-table construction and basic graph transforms.

The engine's fundamental tuple is an edge ``(src: long, dst: long)`` —
the Spark mapping of the reference's ``edge_t`` packed struct
(/root/reference/utils/util.hpp:20-38), widened to 64-bit ids for
10^12-file scale. Graph input conventions mirror the reference
(/root/reference/README.md:23-27): undirected graph stored in one
direction, no self-loops (filter parity:
/root/reference/converter/conversions.hpp:52-56).

At 100 TB the edge table is produced once by extraction
(``linkgraph.extract``) and persisted partitioned by a partitioning
strategy; everything here is a narrow/one-shuffle transform that
Catalyst pushes down into the parquet scan (only ``src``/``dst`` or the
two join keys are ever read).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def edges_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical deterministic edge graph over the test corpus: parts
    that co-occur in the same order are linked.

    One direction per undirected edge (``src < dst``), deduplicated, no
    self-loops — the reference's input contract. The self-join shuffles
    once on ``l_orderkey`` (both sides co-partitioned), and only the two
    key columns are scanned (column pruning).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").cast("long").alias("src"),
            F.col("b.l_partkey").cast("long").alias("dst"),
        )
        .distinct()
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge list stored one-direction → both directions.

    Used by message-passing analytics (each undirected edge carries
    messages both ways). unionAll of two projections of the same scan —
    Spark reads the parquet once per branch but prunes to 2 columns.
    """
    return edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def join_ready(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-partition + sort ``df`` by ``cols`` so that a subsequent
    cache'd copy joins WITHOUT a per-round exchange or sort (guide
    §2.4: establish the partitioning once). Iterative kernels join the
    (big, static) edge side on the same key every superstep; Spark
    preserves the partitioning and ordering of a cached plan, so the
    per-round sort-merge join only shuffles+sorts the (small, changing)
    label side. Partition count comes from spark.sql.shuffle.partitions
    — the same scale knob every other shuffle uses — and the explicit
    count keeps AQE from coalescing below it (matching the partition
    count the label side's exchange will produce, so the join reuses
    this side as-is)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n, *cols).sortWithinPartitions(*cols)


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex — both endpoints counted once per
    edge (reference ingest-time degree, conversions.hpp:73-74).

    A single hash aggregate (partial map-side combine + final), the
    Spark analog of the reference's dense ``degrees[]`` array.
    """
    ends = edges.select(F.col("src").alias("vid")).unionAll(
        edges.select(F.col("dst").alias("vid"))
    )
    return ends.groupBy("vid").agg(F.count("*").cast("long").alias("degree"))


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertices with ≥1 edge — the reference's "true vertices"
    (popcount(true_vids), edgePartitioner.cpp:35-36)."""
    return (
        edges.select(F.col("src").alias("vid"))
        .unionAll(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )


def adjacency_lists(edges: DataFrame) -> DataFrame:
    """Edge list → adjacency text lines ``"vid n1 n2 …"`` (neighbors
    sorted) — the inverse of ``edges_from_adjacency``, used to exercise
    the S7 converter against a known graph."""
    sym = symmetrize(edges)
    return sym.groupBy("src").agg(
        F.concat_ws(
            " ",
            F.col("src").cast("string"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list("dst")),
                    lambda x: x.cast("string"),
                ),
            ),
        ).alias("value")
    ).select("value")


def edges_from_adjacency(lines: DataFrame) -> DataFrame:
    """Adjacency-list→edge-list converter (reference S7,
    /root/reference/converter/conversions.cpp:77-126): each text line is
    ``vid n1 n2 …``; emit one (src, dst) pair per neighbor, dedup to the
    canonical one-direction form (src < dst), drop self-loops — the
    reference's ``sort`` + ``unique`` pass re-expressed as
    split → posexplode → distinct (narrow explode + one dedup shuffle;
    comment lines starting with '#'/'%' skipped as in the text scan,
    conversions.cpp:33-36)."""
    toks = lines.where(
        ~F.col("value").startswith("#") & ~F.col("value").startswith("%")
    ).select(F.split(F.trim(F.col("value")), r"[\s,]+").alias("t"))
    pairs = toks.select(
        F.element_at("t", 1).cast("long").alias("u"),
        F.explode(F.slice("t", 2, 2147483647)).alias("nbr"),
    ).select("u", F.col("nbr").cast("long").alias("v"))
    return (
        pairs.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst")
        )
        .distinct()
    )


def edges_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second deterministic graph source: users who acted on the same
    (event_type, hour) are linked — the interaction-graph analog of
    the part co-occurrence derivation. Same contract: src < dst,
    distinct, no self-loops. One shuffle on the composite group key.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(b, on=["hour", "event_type"])
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .select(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .distinct()
    )


def weighted_edges_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted interaction graph: same (hour, event_type) co-action
    join as ``edges_from_events`` but WITHOUT the distinct — the
    weight of (u, v) is the number of co-acting event pairs, the
    natural interaction-intensity weight. src < dst, no self-loops.
    One shuffle on the composite group key + one on the edge key."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(b, on=["hour", "event_type"])
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .groupBy(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("weight"))
    )


def directed_edges_from_lineitem(
    spark: SparkSession, sf_dir: str, back_mod: int = 64
) -> DataFrame:
    """DIRECTED order-sequence graph — the SCC substrate. Within each
    order, edge from the part at line i to the part at line i+1 (the
    temporal "bought after" relation). All forward edges (src < dst)
    are kept; a backward edge survives only when
    H(src, dst, 'scc') % back_mod == 0 — deterministic sampling of
    reciprocal links that gives the graph the web's bowtie SCC shape
    (one giant core + a periphery of singletons) instead of one
    all-encompassing cycle (dense co-occurrence makes every vertex
    mutually reachable otherwise — measured: back_mod=1 collapses to
    a single SCC even at sf0.001). Distinct pairs, no self-loops. The
    per-order window is bounded by order size — no skew."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").cast("long").alias("pk"),
    )
    # l_linenumber is NOT unique within an order in this corpus —
    # tie-break by partkey so the successor sequence is a total order
    # (identical across engines; verified: linenumber-only ordering
    # diverges between Spark and DuckDB at sf0.01)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "pk")
    nxt = li.withColumn("nxt", F.lead("pk").over(w)).where(
        F.col("nxt").isNotNull() & (F.col("nxt") != F.col("pk"))
    )
    from linkgraph.hashing import md5_prefix_hash

    h = md5_prefix_hash("pk", "nxt", F.lit("scc"))
    return (
        nxt.where(
            (F.col("pk") < F.col("nxt"))
            | (F.pmod(h, F.lit(back_mod)) == 0)
        )
        .select(F.col("pk").alias("src"), F.col("nxt").alias("dst"))
        .distinct()
    )


def dense_vertex_ids(edges: DataFrame, n_parts: int = 32) -> DataFrame:
    """Deterministic dense vertex numbering → DataFrame[vid, idx] with
    idx = rank of vid in ascending order, 0-based — the substrate for
    embedding tables, adjacency arrays, and hash-indexed sampling
    (``negative_samples``).

    The OUTPUT is a pure function of the vertex set (sorted rank), but
    the EXECUTION is the classic distributed zipWithIndex — no global
    single-partition window (``row_number`` without partition keys
    collapses to one task — the thing this function exists to avoid at
    10^12 vertices):

    1. range-partition the vids into ``n_parts`` sorted ranges (the
       sampled bounds need not be balanced or reproducible — ranks are
       invariant to where the cuts fall),
    2. collect the P partition sizes (P rows on the driver),
    3. prefix-sum them into per-partition offsets,
    4. one ``mapInPandas`` pass enumerates each partition locally and
       adds its offset.

    The cache between steps 2 and 4 pins the partitioning so both jobs
    see identical assignment."""
    import pandas as pd

    v = (
        vertices(edges)
        .repartitionByRange(n_parts, "vid")
        .sortWithinPartitions("vid")
        .withColumn("_pid", F.spark_partition_id())
        .cache()
    )
    sizes = {
        r["_pid"]: r["count"] for r in v.groupBy("_pid").count().collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(sizes):  # range partitions are in ascending order
        offsets[pid] = acc
        acc += sizes[pid]

    def enumerate_parts(batches):
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["_pid"].iloc[0])]
            idx = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield pd.DataFrame(
                {"vid": pdf["vid"].to_numpy(), "idx": list(idx)}
            )

    return v.mapInPandas(enumerate_parts, schema="vid long, idx long")


@contextmanager
def _degree_scope(edges: DataFrame):
    """For the length of a kernel call: ``edges``' symmetrized ``(src,
    dst)`` projection (lazy) and its ``_degree_table``. The projection
    is cached unless the caller has cached it
    (``linkgraph.rolling._scanned``); both are released on exit. The
    edge list is symmetrized, so the table's keys are exactly the vertex
    set (n = its row count), the sum of out-degrees is the number of
    directed darts a superstep scans, and a vertex's in-degree equals
    its out-degree."""
    from linkgraph.rolling import _scanned, release

    source, cached = _scanned(edges, "src", "dst")
    out_deg = None
    try:
        sym = symmetrize(source)
        out_deg, stats = _degree_table(sym)
        yield sym, out_deg, stats
    finally:
        release(out_deg, cached)


def _degree_table(sym: DataFrame, degree=None) -> tuple[DataFrame, dict]:
    """The out-degree table ``(src, outdeg)`` of ``sym`` cut with
    ``localCheckpoint`` (the caller releases it), and that table's
    statistics ``n``, ``m2`` and ``mx`` (the maximum degree), which ride
    the checkpoint as an Observation: zero jobs beyond the checkpoint
    itself. ``degree`` is the per-vertex aggregate (default: the edge
    count; ``F.sum("weight")`` gives the weighted degree)."""
    from pyspark.sql import Observation

    obs = Observation()
    out_deg = (
        sym.groupBy("src").agg(
            (F.count("*") if degree is None else degree).alias("outdeg")
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("outdeg").alias("m2"),
            F.max("outdeg").alias("mx"),
        )
        .localCheckpoint()
    )
    return out_deg, obs.get
