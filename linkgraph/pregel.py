"""Checkpointed, resumable Pregel-style superstep loop.

North-rule requirements covered here: every superstep checkpoints the
vertex state to a table with per-partition lineage and counters (edges
scanned, messages sent, max partition skew, wall ms) so any run is
resumable mid-superstep; counters are monotone per run.

Checkpoint backend: Iceberg when its runtime jars are on the Spark
classpath (``iceberg`` table format), else a plain-parquet snapshot
layout (``<base>/<run_id>/superstep=N/`` + ``counters.json`` +
``_SUCCESS``) with the same semantics — an atomic, listable snapshot
per superstep. The jars are absent in this environment, so the parquet
backend is the tested path; the Iceberg adapter writes through the
identical interface.

A snapshot commits when its ``counters.json`` appears, and that file is
written to a temporary name and renamed into place: a driver killed
between the data write and the rename leaves the previous superstep as
the latest one, never a torn counter record. ``wall_ms`` is stamped
after the snapshot write, so it times the superstep's jobs, not just
the building of its plan.

Lineage is cut in two places. Each superstep's state is read back from
its snapshot (with the schema it was written with, so the read-back
runs no schema-inference job), which stops the plan from growing per
iteration (SURVEY.md §4). The static edge side is cut once at setup
with ``localCheckpoint`` (the ``linkgraph.rolling`` idiom), so no
superstep re-analyzes the caller's input plan (e.g. extract's Arrow
parse and joins). ``localCheckpoint`` blocks live on the executors and
are not fault-tolerant: if an executor holding them is lost, the run
fails, and recovery is the resume path — rerun with the same run id and
the loop continues from the last committed snapshot. Cached and
checkpointed setup tables are released before a kernel returns; the
state it returns is snapshot-backed.
"""

from __future__ import annotations

import json
import os
import time
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: B018
        return True
    except Exception:
        return False


class CheckpointManager:
    """Per-run snapshot store: one vertex-state snapshot + counter
    record per superstep."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str):
        self.spark = spark
        self.base = Path(base_dir) / run_id
        self.run_id = run_id
        self.use_iceberg = _iceberg_available(spark)
        self.base.mkdir(parents=True, exist_ok=True)

    def _dir(self, superstep: int) -> Path:
        return self.base / f"superstep={superstep}"

    def latest(self) -> int | None:
        """Highest complete superstep, or None."""
        done = [
            int(p.name.split("=")[1])
            for p in self.base.glob("superstep=*")
            if (p / "data" / "_SUCCESS").exists() and (p / "counters.json").exists()
        ]
        return max(done) if done else None

    def write(
        self, superstep: int, state: DataFrame, counters: dict,
        t0: float | None = None,
    ) -> DataFrame:
        """Persist state + counters; returns the read-back state (fresh
        lineage). Data lives under ``data/`` so the counter record never
        shadows a parquet footer; the counters file is committed last
        (atomically, see ``_commit_json``) and acts as the snapshot
        commit marker.

        ``t0``: the ``time.perf_counter()`` reading at which the caller
        started building this superstep. ``wall_ms`` is then stamped
        after the parquet write, so it covers the jobs the lazy plan
        runs, not only the plan construction.

        ``max_partition_skew`` is filled in from the snapshot just
        written (parquet footer row counts — one file per task
        partition) unless the caller provides it, so recording the skew
        counter costs zero extra Spark actions (it used to be a second
        full scan of the new state every superstep).

        The read-back passes the written schema, so it launches no
        schema-inference job."""
        d = self._dir(superstep)
        state.write.mode("overwrite").parquet(str(d / "data"))
        counters = dict(counters)
        if t0 is not None:
            counters["wall_ms"] = round((time.perf_counter() - t0) * 1000, 1)
        if "max_partition_skew" not in counters:
            counters["max_partition_skew"] = round(_file_skew(d / "data"), 4)
        _commit_json(
            d / "counters.json",
            {"run_id": self.run_id, "superstep": superstep, **counters},
        )
        return self.spark.read.schema(state.schema).parquet(str(d / "data"))

    def read(self, superstep: int) -> DataFrame:
        return self.spark.read.parquet(str(self._dir(superstep) / "data"))

    def counters(self) -> list[dict]:
        out = []
        for p in sorted(self.base.glob("superstep=*/counters.json")):
            out.append(json.loads(p.read_text()))
        return sorted(out, key=lambda c: c["superstep"])


def _commit_json(path: Path, rec: dict) -> None:
    """Write ``rec`` to ``path`` through a temporary file and a rename,
    so a reader sees either the previous file or the whole new one,
    never a torn record (``latest()`` ignores the ``.tmp`` name)."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(rec))
    os.replace(tmp, path)


def _file_skew(data_dir: Path) -> float:
    """max/avg rows per written snapshot file — the max-partition-skew
    lineage counter, read from the parquet footers of the snapshot that
    was just written (each final-stage task writes one file, so file
    row counts ARE the partition row counts). Driver-side metadata
    reads only — no Spark action; the snapshot write itself is the
    scan."""
    import pyarrow.parquet as pq

    counts = [
        pq.ParquetFile(str(f)).metadata.num_rows
        for f in sorted(data_dir.glob("*.parquet"))
    ]
    counts = [c for c in counts if c > 0]
    if not counts:
        return 0.0
    avg = sum(counts) / len(counts)
    return max(counts) / avg if avg else 0.0


def _warn_if_beyond(ckpt: CheckpointManager, start: int, requested: int) -> None:
    """A checkpoint dir holding a superstep beyond the requested count
    would make the loop body a silent no-op — say so (ADVICE r3)."""
    if start > requested:
        warnings.warn(
            f"checkpoint {ckpt.run_id} already holds superstep {start} > "
            f"requested {requested}; returning the later state (pass "
            "resume=False or a fresh run_id to recompute)",
            stacklevel=3,
        )


def _degree_setup(edges: DataFrame) -> tuple[DataFrame, DataFrame, dict]:
    """Setup shared by the durable kernels: the symmetrized edge list
    (lazy) and its ``_degree_table``. The edge list is symmetrized, so
    the table's keys are exactly the vertex set (n = its row count), the
    sum of out-degrees is the number of directed darts a superstep
    scans, and a vertex's in-degree equals its out-degree."""
    from linkgraph.graph import symmetrize

    sym = symmetrize(edges)
    return (sym, *_degree_table(sym))


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


def pagerank_checkpointed(
    spark: SparkSession,
    edges: DataFrame,
    ckpt: CheckpointManager,
    iterations: int = 20,
    damping: float = 0.85,
    resume: bool = True,
    auto_salt_skew: float | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """PageRank with a durable snapshot + counters per superstep.

    Resumable: if the checkpoint dir already holds supersteps 0..s,
    computation continues from s (kill the driver mid-run and rerun —
    the same final ranks come out; tests/test_pregel.py proves it).

    Setup is ``_degree_setup``: one out-degree checkpoint with n, m2
    and the maximum degree read off that same job. The edge side
    ``links`` is then checkpointed once; both are released before
    returning.

    ``auto_salt_skew``: the skew counter ACTS, not just records. The
    routed-message skew per aggregation key is max/avg in-degree of
    ``links`` (a hub with in-degree 10^8 concentrates one reducer's
    messages). When it exceeds this threshold, hub destinations (those
    above ``auto_salt_skew × avg``) get a deterministic src-derived
    salt (``linkgraph.partition.salt`` semantics) and the message
    aggregation runs in two stages — partial by (vid, salt), final by
    vid. Sum is associative, so ranks are unchanged (float order only;
    tests pin 1e-6). Counters record ``msg_skew`` and ``salted`` so an
    operator can see the decision in the lineage log.
    """
    from linkgraph.rolling import release

    sym, out_deg, stats = _degree_setup(edges)
    links = None
    try:
        n, m2 = stats["n"], stats["m2"]
        teleport = (1.0 - damping) / n

        links = sym.join(out_deg, "src").select("src", "dst", "outdeg")
        salted = False
        msg_skew = 0.0
        if auto_salt_skew is not None:
            avg_in = m2 / n
            msg_skew = stats["mx"] / avg_in
            if msg_skew > auto_salt_skew:
                hubs = out_deg.where(
                    F.col("outdeg") > avg_in * auto_salt_skew
                ).select(F.col("src").alias("dst"), F.lit(True).alias("_hot"))
                links = (
                    links.join(F.broadcast(hubs), "dst", "left")
                    .withColumn(
                        "_salt",
                        F.when(
                            F.col("_hot").isNotNull(),
                            F.pmod(F.xxhash64("src"), F.lit(n_salts)),
                        ).otherwise(F.lit(0)).cast("int"),
                    )
                    .drop("_hot")
                )
                salted = True
        links = links.localCheckpoint()

        start = ckpt.latest() if resume else None
        if start is None:
            ranks = ckpt.write(
                0,
                out_deg.select(F.col("src").alias("vid"), F.lit(1.0 / n).alias("rank")),
                {"edges_scanned": 0, "messages_sent": 0,
                 "max_partition_skew": 0.0, "wall_ms": 0.0,
                 "msg_skew": round(msg_skew, 4), "salted": salted},
            )
            start = 0
        else:
            _warn_if_beyond(ckpt, start, iterations)
            ranks = ckpt.read(start)

        for s in range(start + 1, iterations + 1):
            t0 = time.perf_counter()
            joined = links.join(ranks, links["src"] == ranks["vid"])
            if salted:
                msgs = joined.select(
                    F.col("dst").alias("vid"), "_salt",
                    (F.col("rank") / F.col("outdeg")).alias("c"),
                )
                partial = msgs.groupBy("vid", "_salt").agg(
                    F.sum("c").alias("_pc")
                )
                new_ranks = partial.groupBy("vid").agg(
                    (F.lit(teleport) + F.lit(damping) * F.sum("_pc")).alias("rank")
                )
            else:
                msgs = joined.select(
                    F.col("dst").alias("vid"),
                    (F.col("rank") / F.col("outdeg")).alias("c"),
                )
                new_ranks = msgs.groupBy("vid").agg(
                    (F.lit(teleport) + F.lit(damping) * F.sum("c")).alias("rank")
                )
            ranks = ckpt.write(
                s, new_ranks,
                {"edges_scanned": m2, "messages_sent": m2,
                 "msg_skew": round(msg_skew, 4), "salted": salted},
                t0=t0,
            )  # max_partition_skew folded into the snapshot write
    finally:
        release(out_deg, links)
    return ranks


def cc_checkpointed(
    spark: SparkSession,
    edges: DataFrame,
    ckpt: CheckpointManager,
    max_iterations: int = 50,
    resume: bool = True,
) -> DataFrame:
    """Hash-min connected components with per-superstep snapshots;
    stops at fixpoint. A ``converged`` flag in the counters marks the
    final superstep so resume does not re-iterate.

    Fixpoint test: the exact decimal sum of the labels is unchanged
    between supersteps iff the (monotone non-increasing) labels stopped
    moving. The sum rides each snapshot write as an Observation, so it
    costs no job; a resumed run sums its starting snapshot once."""
    from pyspark.sql import Observation

    from linkgraph.rolling import _scanned, release

    def label_sum():
        return F.sum(F.col("component").cast("decimal(38,0)")).alias("s")

    start = ckpt.latest() if resume else None
    if start is not None and any(
        c.get("converged") for c in ckpt.counters() if c["superstep"] == start
    ):
        return ckpt.read(start)

    source, cached = _scanned(edges, "src", "dst")
    sym, out_deg, stats = _degree_setup(source)
    try:
        m2 = stats["m2"]
        if start is None:
            obs = Observation()
            labels = ckpt.write(
                0,
                out_deg.select(
                    F.col("src").alias("vid"), F.col("src").alias("component")
                ).observe(obs, label_sum()),
                {"edges_scanned": 0, "messages_sent": 0,
                 "max_partition_skew": 0.0, "wall_ms": 0.0, "converged": False},
            )
            prev_sum = obs.get["s"]
            start = 0
        else:
            _warn_if_beyond(ckpt, start, max_iterations)
            labels = ckpt.read(start)
            prev_sum = labels.agg(label_sum()).first()[0]

        for s in range(start + 1, max_iterations + 1):
            t0 = time.perf_counter()
            nbr = sym.join(labels, sym["src"] == labels["vid"]).select(
                F.col("dst").alias("vid"), "component"
            )
            new_labels = (
                nbr.unionByName(labels.select("vid", "component"))
                .groupBy("vid")
                .agg(F.min("component").alias("component"))
            )
            obs = Observation()
            labels = ckpt.write(
                s, new_labels.observe(obs, label_sum()),
                {"edges_scanned": m2, "messages_sent": m2, "converged": False},
                t0=t0,
            )  # max_partition_skew folded into the snapshot write
            cur_sum = obs.get["s"]
            if cur_sum == prev_sum:
                # mark the just-committed record converged — the
                # snapshot itself is already durable
                d = ckpt._dir(s) / "counters.json"
                _commit_json(d, {**json.loads(d.read_text()), "converged": True})
                break
            prev_sum = cur_sum
    finally:
        release(out_deg, cached)
    return labels


def lpa_checkpointed(
    spark: SparkSession,
    edges: DataFrame,
    ckpt: CheckpointManager,
    iterations: int = 10,
    resume: bool = True,
) -> DataFrame:
    """Synchronous label propagation (min tie-break) with per-superstep
    snapshots + counters; resumable like pagerank_checkpointed."""
    from pyspark.sql import Window

    from linkgraph.rolling import _scanned, release

    source, cached = _scanned(edges, "src", "dst")
    sym, out_deg, stats = _degree_setup(source)
    try:
        m2 = stats["m2"]

        start = ckpt.latest() if resume else None
        if start is None:
            labels = ckpt.write(
                0,
                out_deg.select(
                    F.col("src").alias("vid"), F.col("src").alias("label")
                ),
                {"edges_scanned": 0, "messages_sent": 0,
                 "max_partition_skew": 0.0, "wall_ms": 0.0},
            )
            start = 0
        else:
            _warn_if_beyond(ckpt, start, iterations)
            labels = ckpt.read(start)

        w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))
        for s in range(start + 1, iterations + 1):
            t0 = time.perf_counter()
            counts = (
                sym.join(labels, sym["src"] == labels["vid"])
                .select(F.col("dst").alias("vid"), "label")
                .groupBy("vid", "label")
                .agg(F.count("*").alias("cnt"))
            )
            new_labels = (
                counts.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("vid", "label")
            )
            labels = ckpt.write(
                s, new_labels,
                {"edges_scanned": m2, "messages_sent": m2},
                t0=t0,
            )  # max_partition_skew folded into the snapshot write
    finally:
        release(out_deg, cached)
    return labels
