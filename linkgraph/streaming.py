"""Structured Streaming surface.

The reference is batch-only (its "streaming" partitioners are
single-pass in-memory loops — SURVEY.md §2.3), and the link-graph
engine is batch-iterative by design. This module exists for the
*pipeline* side: incremental event/document feeds. It mirrors the
batch operators' semantics so a feed can be switched between batch
and streaming without changing downstream tables.

Tested with the file source + memory sink + ``processAllAvailable``
(synchronous drain — no codec or broker needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based event stream (parquet drops into ``path``); swap the
    format for kafka in production — downstream is identical."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .load(path)
    )


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type with a 2-hour watermark
    for late data — the streaming twin of the batch
    ``events_windowed_counts`` query."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"), "event_type", "n", "sum_value"
        )
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    sessionization with a 30-minute inactivity gap — the streaming twin
    of the batch ``linkgraph.queries.q_events_sessionize`` (same gap
    rule, same outputs). State per user = (last event time, sessions
    so far, current-session length, longest session); each micro-batch
    folds its (time-ordered) events into the state and emits the
    user's updated totals. On an in-order feed the final update equals
    the batch query exactly (tests/test_streaming.py proves it, single-
    and multi-batch).

    Scale shape: state is per-user (tiny, bounded), partitioned by the
    group key across executors — the standard streaming-state story;
    no watermark needed because the state never grows beyond one tuple
    per user (NoTimeout keeps users' sessions resumable forever)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_ts, n_sessions, cur, mx = state.get
        else:
            last_ts, n_sessions, cur, mx = None, 0, 0, 0
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        for t in (x.timestamp() for x in rows["ts"]):
            if last_ts is None or t - last_ts > 1800:
                mx = max(mx, cur)
                n_sessions += 1
                cur = 1
            else:
                cur += 1
            last_ts = t
        state.update((last_ts, n_sessions, cur, mx))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "max_session_events": [max(mx, cur)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id long, n_sessions long, max_session_events long",
        stateStructType="last_ts double, n_sessions long, cur_events long, max_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_stream_to_memory(
    spark: SparkSession,
    src_path: str,
    query_name: str = "sessions",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the stateful sessionizer synchronously (test/demo path);
    ``max_files_per_trigger=1`` forces one micro-batch per input file
    to exercise cross-batch state."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sess = sessionize_stream(reader.load(src_path))
    q = (
        sess.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_to_memory(
    spark: SparkSession, src_path: str, query_name: str = "events_agg"
) -> DataFrame:
    """Drive the stream synchronously to completion (test/demo path):
    read files → windowed agg → memory sink → drain → return the
    result table."""
    agg = windowed_counts_stream(read_event_stream(spark, src_path))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the streaming twin of
    ``linkgraph.pipeline.dedup.dedup_exact``: a document whose
    normalized-text fingerprint was already seen in ANY earlier
    micro-batch is dropped; the first arrival survives. Uses Spark's
    native streaming ``dropDuplicates`` state (one fingerprint per
    distinct text, partitioned by the dedup key across executors — at
    corpus scale add a watermark on an event-time column to bound the
    state to the dedup horizon; the feed here is unbounded-keyed like
    the sessionizer)."""
    norm = F.lower(F.trim(F.col("text")))
    return docs.withColumn("fingerprint", F.md5(norm)).dropDuplicates(
        ["fingerprint"]
    )


def run_dedup_stream_to_memory(
    spark: SparkSession,
    src_path: str,
    query_name: str = "docs_dedup",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the streaming dedup synchronously (test/demo path)."""
    reader = spark.readStream.schema(DOCS_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = dedup_stream(reader.load(src_path))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ]
)


def read_edge_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based edge feed (parquet drops of (src, dst) batches) —
    the incremental-ingestion entry the offstream partitioners and
    warm-start analytics consume downstream."""
    return (
        spark.readStream.schema(EDGES_SCHEMA).format("parquet").load(path)
    )


def degree_stream(edges: DataFrame) -> DataFrame:
    """Streaming twin of ``linkgraph.graph.degrees``: a continuously-
    maintained degree table over an arriving edge feed — the
    ingest-time degree maintenance the reference performs in its
    loader (base_graph.cpp:66-90 builds degrees while reading the
    edge file), re-expressed as a streaming aggregate. Each
    micro-batch partial-aggregates map-side and folds into the keyed
    count state; at corpus scale the state is |V| longs sharded by
    vid across executors — the same footprint the batch degree table
    has. Self-loops are excluded (batch contract)."""
    clean = edges.where(F.col("src") != F.col("dst"))
    sym = clean.select(F.col("src").alias("vid")).unionByName(
        clean.select(F.col("dst").alias("vid"))
    )
    return sym.groupBy("vid").agg(F.count("*").cast("long").alias("degree"))


WEIGHTED_EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
        T.StructField("weight", T.LongType()),
    ]
)


def read_weighted_edge_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based WEIGHTED edge feed (parquet drops of
    (src, dst, weight) batches) — the interaction-graph ingestion
    path."""
    return (
        spark.readStream.schema(WEIGHTED_EDGES_SCHEMA)
        .format("parquet")
        .load(path)
    )


def strength_stream(edges: DataFrame) -> DataFrame:
    """Continuously-maintained (degree, strength=Σ incident weight)
    table over an arriving weighted edge feed. Same shape as
    ``degree_stream`` — map-side partial aggregation per micro-batch
    folding into keyed state sharded by vid — with a second summed
    column. Self-loops excluded (batch contract).

    Semantics: every ARRIVING row counts — a pair delivered twice
    contributes 2 to each endpoint's degree and both weights to
    strength (interaction-count semantics). That matches the batch
    ``vertex_strength`` query only when the feed carries one row per
    distinct pair (the batch query's input is pre-collapsed by
    ``weighted_edges_from_events``); deduplicate upstream if
    distinct-neighbor degrees are needed."""
    clean = edges.where(F.col("src") != F.col("dst"))
    sym = clean.select(
        F.col("src").alias("vid"), "weight"
    ).unionByName(clean.select(F.col("dst").alias("vid"), "weight"))
    return sym.groupBy("vid").agg(
        F.count("*").cast("long").alias("degree"),
        F.sum("weight").cast("long").alias("strength"),
    )


def cms_cells_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the Count-Min sketch's cell table
    (``linkgraph.pipeline.sketches.heavy_hitters_cms``): maintain the
    D×W cell sums continuously over an arriving document feed. The
    state is CONSTANT-size (D·W = 384 keyed longs regardless of corpus
    size) — the defining property that makes a sketch the right
    streaming-dashboard shape at 100 TB: each micro-batch explodes its
    tokens, hashes them into (row, bucket) with the same portable
    md5-prefix hash as the batch operator, partial-aggregates map-side
    and folds into the keyed state. The batch and streaming cell
    tables are equal on the same corpus (asserted cross-batch in
    tests/test_streaming.py)."""
    from linkgraph.hashing import md5_prefix_hash
    from linkgraph.pipeline.sketches import CMS_D, CMS_W

    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    rows = None
    for i in range(CMS_D):
        r = toks.select(
            F.lit(i).alias("row"),
            (md5_prefix_hash(F.lit(str(i)), F.col("tok")) % CMS_W).alias("bucket"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.groupBy("row", "bucket").agg(
        F.count("*").cast("long").alias("cell_sum")
    )


def run_cms_stream_to_memory(
    spark: SparkSession,
    src_path: str,
    query_name: str = "cms_cells",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the streaming CMS maintenance synchronously (test/demo
    path): document drops → token explode → keyed cell state →
    memory sink (complete mode: the sink holds the 384-row table)."""
    reader = spark.readStream.schema(DOCS_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = cms_cells_stream(reader.load(src_path))
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
