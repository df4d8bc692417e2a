"""The benchmark workloads: ``repo_pipeline`` (sparse graph, the
end-to-end flow, supersteps bound by job launches) and
``dense_kernels`` (dense graph, supersteps bound by bytes moved).

Each workload generates and writes its inputs from the seed
(``__init__``, part of the set-up time), then computes its oracles once
(``build_oracles``, untimed). Per pass the runner
calls ``materialize`` (untimed: load the input into a clean cache),
``run`` (timed: the calls into ``linkgraph``, each output forced) and
``check`` (untimed: compare the outputs with the oracles).
``layer_extras`` adds the layer-specific per-layer metrics of a
traced pass.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from linkgraph.oracle.numpy_ref import (
    components_py,
    lpa_py,
    metrics_py,
    pagerank_np,
    triangles_py,
)

MB = 1024 * 1024

# repo_pipeline: corpus of REPO_N python files importing each other
# along a Barabási–Albert graph (average degree 2 * REPO_M), split into
# HDRF_CHUNKS chunks and REPO_K parts
REPO_N, REPO_M, REPO_K, HDRF_CHUNKS, REPO_STEPS, LPA_ROUNDS = 2_000, 3, 32, 2, 2, 1
# quality guard: chunked HDRF's replication factor may exceed the exact
# sequential HDRF's by at most this factor. Measured on this corpus:
# chunked ≈ 1.47 x exact, random placement ≈ 2.1 x exact; the ceiling
# catches a partitioner that degrades towards hash placement, not a drift
RF_CEILING = 1.75
# dense_kernels: TPC-H-shaped lineitem (1-7 lines per order, part keys
# uniform) whose part co-occurrence graph has average degree ~115
DENSE_ORDERS, DENSE_PARTS, CSR_K, CSR_STEPS, DENSE_STEPS = 3_750, 500, 4, 2, 8


def force(df) -> None:
    """Compute every column of every row of ``df`` and discard it. A
    ``noop`` write, unlike ``count()``, cannot be column-pruned."""
    df.write.format("noop").mode("overwrite").save()


def du_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _pagerank_ok(got: pd.DataFrame, want: dict[int, float]) -> bool:
    got = got.sort_values("vid")
    if got["vid"].tolist() != sorted(want):
        return False
    ref = np.array([want[v] for v in got["vid"]])
    return bool(np.allclose(got["rank"].to_numpy(), ref, rtol=1e-6, atol=0.0))


def _labels_ok(got: pd.DataFrame, col: str, want: dict[int, int]) -> bool:
    return dict(zip(got["vid"].tolist(), got[col].tolist())) == want


class Spans:
    """Per-layer wall time of one pass. Traced, each layer's calls also
    run in their own Spark job group and the storage the layer leaves
    held is recorded."""

    def __init__(self, status, traced: bool, tag: str) -> None:
        self.status, self.traced, self.tag = status, traced, tag
        self.records: dict[str, dict] = {}

    @contextmanager
    def __call__(self, layer: str):
        rec: dict = {}
        if self.traced:
            rec["group"] = f"{self.tag}:{layer}"
            self.status.sc.setJobGroup(rec["group"], layer)
            held0 = self.status.held_bytes()
        t0 = time.perf_counter()
        yield
        rec["s"] = time.perf_counter() - t0
        if self.traced:
            rec["held_bytes"] = self.status.held_bytes() - held0
        self.records[layer] = rec


class RepoPipeline:
    """extract → chunked HDRF → partition metrics → checkpointed
    PageRank into a fresh snapshot directory, then connected components
    and label propagation on the extracted (sparse, power-law) graph."""

    name = "repo_pipeline"
    layers = ("extract", "partition.hdrf", "partition.metrics", "pregel",
              "algos.cc", "algos.lpa")
    pagerank_layer, pr_steps = "pregel", REPO_STEPS

    def __init__(self, spark, seed: int, work: Path) -> None:
        from linkgraph.synth import source_repo_table

        self.spark = spark
        files, truth = source_repo_table(
            spark, shape="powerlaw_ba", seed=seed, n=REPO_N, m=REPO_M
        )
        self.corpus = str(work / "corpus.parquet")
        files.write.parquet(self.corpus)
        self.rows_in = REPO_N + 3  # every file plus the non-code rows
        self.truth = {(min(u, v), max(u, v)) for u, v in truth}
        self.darts = 2 * len(self.truth)
        self.fingerprint: float | None = None  # RF of the first pass
        self.snapshots = work / "snapshots"

    def build_oracles(self) -> None:
        from linkgraph.partition.hdrf import hdrf_oracle, stream_ord_py

        truth = sorted(self.truth)
        self.want_ranks = pagerank_np(truth, iterations=REPO_STEPS)
        self.want_cc = components_py(truth)
        self.want_lpa = lpa_py(truth, iterations=LPA_ROUNDS)
        # exact sequential HDRF in hdrf_spark(exact=True)'s stream order
        stream = sorted(truth, key=lambda e: (stream_ord_py(*e), e))
        exact = hdrf_oracle(stream, REPO_K)
        self.exact_rf = metrics_py(
            [(s, d, p) for (s, d), p in zip(stream, exact)], REPO_K
        )["replication_factor"]

    def materialize(self) -> None:
        # the corpus stays on disk: reading it is part of extraction
        shutil.rmtree(self.snapshots, ignore_errors=True)
        self.files = self.spark.read.parquet(self.corpus)

    def run(self, span: Spans, pass_no: int) -> dict:
        from linkgraph.algos.cc import connected_components
        from linkgraph.algos.lpa import label_propagation
        from linkgraph.extract import extract_edges
        from linkgraph.partition.hdrf import hdrf_spark
        from linkgraph.partition.metrics import edge_partition_metrics
        from linkgraph.pregel import CheckpointManager, pagerank_checkpointed

        with span("extract"):
            edges = extract_edges(self.files).cache()
            force(edges)
        with span("partition.hdrf"):
            parts = hdrf_spark(edges, k=REPO_K, exact=False, num_chunks=HDRF_CHUNKS).cache()
            force(parts)
        with span("partition.metrics"):
            metrics = edge_partition_metrics(parts, REPO_K).first().asDict()
        with span("pregel"):
            # a fresh run id: an existing one would resume and do nothing
            ckpt = CheckpointManager(self.spark, str(self.snapshots), f"pass{pass_no}")
            ranks = pagerank_checkpointed(self.spark, edges, ckpt, iterations=self.pr_steps)
            force(ranks)
        with span("algos.cc"):
            cc = connected_components(edges)
            force(cc)
        with span("algos.lpa"):
            lpa = label_propagation(edges, iterations=LPA_ROUNDS)
            force(lpa)
        return {"edges": edges, "parts": parts, "metrics": metrics,
                "ranks": ranks, "ckpt": ckpt, "cc": cc, "lpa": lpa}

    def check(self, out: dict) -> list[str]:
        bad = []
        edges = {(r[0], r[1]) for r in out["edges"].collect()}
        if edges != self.truth:
            bad.append("extract: edges differ from the corpus ground truth")
        assign = [tuple(r) for r in out["parts"].select("src", "dst", "partition").collect()]
        want = metrics_py(assign, REPO_K)
        got = out["metrics"]
        if sorted((s, d) for s, d, _ in assign) != sorted(self.truth):
            bad.append("partition.hdrf: assignment does not hold each edge exactly once")
        for key in ("replicas", "n_vertices", "max_edge", "min_edge"):
            if got[key] != want[key]:
                bad.append(f"partition.metrics: {key} {got[key]} != {want[key]}")
        if got["replication_factor"] > RF_CEILING * self.exact_rf:
            bad.append(f"partition.hdrf: RF {got['replication_factor']:.3f} > "
                       f"{RF_CEILING} x exact HDRF's {self.exact_rf:.3f}")
        if self.fingerprint is None:
            self.fingerprint = got["replication_factor"]
        elif got["replication_factor"] != self.fingerprint:
            bad.append(f"partition.hdrf: RF {got['replication_factor']} != "
                       f"fingerprint {self.fingerprint}")
        if not _pagerank_ok(out["ranks"].toPandas(), self.want_ranks):
            bad.append("pregel: ranks differ from the NumPy oracle")
        if not _labels_ok(out["cc"].toPandas(), "component", self.want_cc):
            bad.append("algos.cc: components differ from the BFS oracle")
        if not _labels_ok(out["lpa"].toPandas(), "label", self.want_lpa):
            bad.append("algos.lpa: labels differ from the Python oracle")
        return bad

    def layer_extras(self, out: dict) -> dict:
        steps = [c["wall_ms"] / 1000 for c in out["ckpt"].counters() if c["superstep"] > 0]
        return {
            "extract.rows_in": self.rows_in,
            "extract.edges_out": out["edges"].count(),
            "partition.hdrf.replication_factor": out["metrics"]["replication_factor"],
            "pregel.snapshot_mb": du_bytes(out["ckpt"].base) / MB,
            "pregel.superstep_s": statistics.median(steps),
        }


def _lineitem(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=DENSE_ORDERS)
    return pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(1, DENSE_ORDERS + 1, dtype=np.int64), lines),
        "l_partkey": rng.integers(1, DENSE_PARTS + 1, size=int(lines.sum()), dtype=np.int64),
    })


def _cooccurrence(lineitem: pd.DataFrame) -> list[tuple[int, int]]:
    edges = set()
    for parts in lineitem.groupby("l_orderkey")["l_partkey"].unique():
        parts = sorted(parts.tolist())
        edges.update((a, b) for i, a in enumerate(parts) for b in parts[i + 1:])
    return sorted(edges)


class DenseKernels:
    """Triangle count, CSR-blob PageRank and join PageRank on a dense
    part co-occurrence graph held in memory."""

    name = "dense_kernels"
    layers = ("algos.triangles", "csr.prepare", "csr.supersteps", "algos.pagerank")
    pagerank_layer, pr_steps = "algos.pagerank", DENSE_STEPS
    blocks_table = "perfbench_csr_blocks"

    def __init__(self, spark, seed: int, work: Path) -> None:
        self.spark, self.work = spark, work
        lineitem = _lineitem(seed)
        pq.write_table(pa.table(lineitem), str(work / "lineitem.parquet"))
        self.lineitem = lineitem

    def build_oracles(self) -> None:
        truth = _cooccurrence(self.lineitem)
        self.truth = set(truth)
        self.darts = 2 * len(truth)
        self.want_triangles = triangles_py(truth)[1]
        self.want_csr = pagerank_np(truth, iterations=CSR_STEPS)
        self.want_ranks = pagerank_np(truth, iterations=self.pr_steps)

    def materialize(self) -> None:
        from linkgraph.csr import drop_table_and_location
        from linkgraph.graph import edges_from_lineitem

        drop_table_and_location(self.spark, self.blocks_table)
        self.edges = edges_from_lineitem(self.spark, str(self.work)).cache()
        force(self.edges)

    def run(self, span: Spans, pass_no: int) -> dict:
        from linkgraph.algos.pagerank import pagerank
        from linkgraph.algos.triangles import triangle_total
        from linkgraph.csr import pagerank_csr_blocks, prepare_csr_blocks

        with span("algos.triangles"):
            # one row: collecting it computes every column, like a noop write
            triangles = triangle_total(self.edges).collect()[0][0]
        with span("csr.prepare"):
            prepare_csr_blocks(self.edges, k=CSR_K, strategy="grid",
                               blocks_table=self.blocks_table)
        with span("csr.supersteps"):
            steps: list[float] = []
            csr_ranks = pagerank_csr_blocks(
                self.edges, CSR_K, self.blocks_table, iterations=CSR_STEPS,
                checkpoint_every=1, superstep_times=steps,
            )
            force(csr_ranks)
        with span("algos.pagerank"):
            ranks = pagerank(self.edges, iterations=self.pr_steps)
            force(ranks)
        return {"triangles": triangles, "csr_ranks": csr_ranks,
                "csr_steps": steps, "ranks": ranks}

    def check(self, out: dict) -> list[str]:
        bad = []
        if {(r[0], r[1]) for r in self.edges.collect()} != self.truth:
            bad.append("input: co-occurrence edges differ from the Python build")
        if out["triangles"] != self.want_triangles:
            bad.append(f"algos.triangles: {out['triangles']} != {self.want_triangles}")
        if not _pagerank_ok(out["csr_ranks"].toPandas(), self.want_csr):
            bad.append("csr.supersteps: ranks differ from the NumPy oracle")
        if not _pagerank_ok(out["ranks"].toPandas(), self.want_ranks):
            bad.append("algos.pagerank: ranks differ from the NumPy oracle")
        return bad

    def layer_extras(self, out: dict) -> dict:
        wh = Path(self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
        return {
            "csr.prepare.blob_mb": du_bytes(wh / self.blocks_table) / MB,
            "csr.supersteps.superstep_s": statistics.median(out["csr_steps"]),
        }


WORKLOADS = {w.name: w for w in (RepoPipeline, DenseKernels)}
LAYERS = tuple(sorted({layer for w in WORKLOADS.values() for layer in w.layers}))
# layer-specific per-layer metrics (``layer_extras``)
EXTRAS = ("extract.rows_in", "extract.edges_out", "partition.hdrf.replication_factor",
          "pregel.snapshot_mb", "pregel.superstep_s", "csr.prepare.blob_mb",
          "csr.supersteps.superstep_s")
