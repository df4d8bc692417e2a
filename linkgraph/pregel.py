"""Durable supersteps: the per-run snapshot store and the checkpointed
PageRank, CC and LPA entry points.

North-rule requirements covered here: every superstep checkpoints the
vertex state to a table with per-partition lineage and counters (edges
scanned, messages sent, max partition skew, wall ms) so any run is
resumable mid-superstep; counters are monotone per run. The loop itself
is ``linkgraph.iterate.iterate`` with a ``CheckpointManager`` as its
sink (resume, the superstep-0 write, the counters, the ``converged``
mark); the kernels are the in-memory ones of ``linkgraph.algos``.

Checkpoint backend: a plain-parquet snapshot layout
(``<base>/<run_id>/superstep=N/`` + ``counters.json`` + ``_SUCCESS``)
— an atomic, listable snapshot per superstep. An Iceberg table would
give the same semantics behind the same ``CheckpointManager``
interface; no such adapter is written.

A snapshot commits when its ``counters.json`` appears, and that file is
written to a temporary name and renamed into place: a driver killed
between the data write and the rename leaves the previous superstep as
the latest one, never a torn counter record. ``wall_ms`` is stamped
after the snapshot write, so it times the superstep's jobs, not just
the building of its plan.

Each superstep's state is read back from its snapshot (with the schema
it was written with, so the read-back runs no schema-inference job),
which stops the plan from growing per iteration (SURVEY.md §4). The
static edge side is the kernel's: the input's ``(src, dst)`` projection
(``linkgraph.rolling._scanned``) and its out-degree checkpoint, released
before the kernel returns; the state it returns is snapshot-backed.
``localCheckpoint`` blocks live on the executors and are not
fault-tolerant: if an executor holding them is lost, the run fails, and
recovery is the resume path — rerun with the same run id and the loop
continues from the last committed snapshot.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    """Per-run snapshot store: one vertex-state snapshot + counter
    record per superstep."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str):
        self.spark = spark
        self.base = Path(base_dir) / run_id
        self.run_id = run_id
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

    def record(self, superstep: int) -> dict:
        """The committed counter record of ``superstep``."""
        return json.loads((self._dir(superstep) / "counters.json").read_text())

    def mark_converged(self, superstep: int) -> None:
        """Re-commit ``superstep``'s record with ``converged`` set; the
        snapshot itself is already durable."""
        _commit_json(
            self._dir(superstep) / "counters.json",
            {**self.record(superstep), "converged": True},
        )

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
    """PageRank with a durable snapshot + counters per superstep: the
    undirected ``linkgraph.algos.pagerank`` kernel (state ``(src, rank,
    outdeg)``) run with ``ckpt`` as its sink.

    Resumable: if the checkpoint dir already holds supersteps 0..s,
    computation continues from s (kill the driver mid-run and rerun —
    the same final ranks come out; tests/test_pregel.py proves it). A
    snapshot of another state layout (e.g. the ``(vid, rank)`` one
    written before the degree moved into the state) is refused with an
    error naming the run id.

    ``auto_salt_skew``: the skew counter ACTS, not just records. The
    routed-message skew per aggregation key is max/avg in-degree (a hub
    with in-degree 10^8 concentrates one reducer's messages). When it
    exceeds this threshold, hub destinations (those above
    ``auto_salt_skew × avg``) get a deterministic src-derived salt
    (``linkgraph.partition.salt`` semantics) on a checkpointed edge
    side, and the message aggregation runs in two stages — partial by
    (vid, salt), final by vid. Sum is associative, so ranks are
    unchanged (float order only; tests pin 1e-6). Counters record
    ``msg_skew`` and ``salted`` so an operator can see the decision in
    the lineage log.
    """
    from linkgraph.algos.pagerank import _checkpointed

    return _checkpointed(
        edges, ckpt, iterations, damping, resume, auto_salt_skew, n_salts
    )


def cc_checkpointed(
    spark: SparkSession,
    edges: DataFrame,
    ckpt: CheckpointManager,
    max_iterations: int = 50,
    resume: bool = True,
) -> DataFrame:
    """Hash-min connected components (``linkgraph.algos.cc``, its
    convergence mode) with per-superstep snapshots; stops at the first
    superstep that changes no label and marks it ``converged`` in the
    counters; a resume after that returns the marked snapshot before any
    setup runs."""
    from linkgraph.algos.cc import _hash_min
    from linkgraph.graph import _degree_scope

    latest = ckpt.latest() if resume else None
    if latest is not None and ckpt.record(latest).get("converged"):
        return ckpt.read(latest)
    with _degree_scope(edges) as (sym, out_deg, stats):
        # superstep 0 and n from the out-degree table: jumping is gated
        # alike on a fresh and a resumed run
        return _hash_min(
            sym,
            out_deg.select(F.col("src").alias("vid"), F.col("src").alias("component")),
            max_iterations, converge=True, pointer_jumping=None, every=1,
            identity=True, n=stats["n"], sink=ckpt, resume=resume,
            counters={"edges_scanned": stats["m2"], "messages_sent": stats["m2"]},
        )[0]


def lpa_checkpointed(
    spark: SparkSession,
    edges: DataFrame,
    ckpt: CheckpointManager,
    iterations: int = 10,
    resume: bool = True,
) -> DataFrame:
    """Synchronous label propagation (``linkgraph.algos.lpa``, min
    tie-break) with per-superstep snapshots + counters; resumable like
    pagerank_checkpointed."""
    from linkgraph.algos.lpa import _propagate
    from linkgraph.graph import _degree_scope

    with _degree_scope(edges) as (sym, out_deg, stats):
        return _propagate(
            sym,
            out_deg.select(F.col("src").alias("vid"), F.col("src").alias("label")),
            iterations, 1, sink=ckpt, resume=resume,
            counters={"edges_scanned": stats["m2"], "messages_sent": stats["m2"]},
        )
