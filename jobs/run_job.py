"""CLI job runner — the north-rule launch path:

    zip -r linkgraph.zip linkgraph/
    spark-submit --master <cluster> --py-files linkgraph.zip \\
        jobs/run_job.py --job pagerank --sf-dir /root/testdata/sf0.01 \\
        --checkpoint-dir /tmp/lg-ckpt --run-id demo --iterations 10

Jobs: pagerank | cc | lpa | triangles | partition | extract |
metrics | scc | bfs | kcore | walks | node2vec | clustering |
census | modularity | quantiles | topo | hll | heavy_hitters.
pagerank, cc and lpa checkpoint every superstep and resume from the
last complete snapshot when re-launched with the same --run-id; the
other iterative jobs (scc, bfs, kcore, walks, topo) recompute from the
start.

The session comes from ``SparkSession.builder``, not
``linkgraph.session.get_spark``: spark-submit owns the master, memory
and parallelism. The builder sets ``linkgraph.session.LAUNCH_CONF``,
the two settings every launch path shares: PySpark's per-call
call-site capture off, and Spark's compiled-code cache sized to 1000
classes (it pays off only when a plan runs again in the same JVM,
which a one-job submit seldom does). The Python workers still run
PySpark's own daemon, so each task re-reads the zip archives on the
worker path: linkgraph may arrive through ``--py-files`` only after
the daemon has started, and a ``linkgraph.pyworker`` daemon would not
find it.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True,
                    choices=["pagerank", "cc", "lpa", "triangles",
                             "partition", "metrics", "extract",
                             "scc", "bfs", "kcore", "walks",
                             "node2vec", "clustering", "census",
                             "modularity", "quantiles", "topo",
                             "hll", "heavy_hitters"])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--checkpoint-dir", default="/tmp/linkgraph-ckpt")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--iterations", type=int, default=10)
    ap.add_argument("--strategy", default="grid",
                    choices=["hash", "dbh", "grid", "hdrf", "hdrf_chunked",
                             "greedy", "greedy_chunked", "offstream",
                             "offstream_greedy", "offstream_window",
                             "ne_coarse", "round_robin"])
    ap.add_argument("--k", type=int, default=16)
    ap.add_argument("--output", default=None, help="parquet output path")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from linkgraph.graph import edges_from_lineitem
    from linkgraph.session import LAUNCH_CONF

    spark = (
        SparkSession.builder.appName(f"linkgraph-{args.job}")
        .config(map=LAUNCH_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    edges = edges_from_lineitem(spark, args.sf_dir)

    if args.job in ("pagerank", "cc", "lpa"):
        from linkgraph import pregel

        ckpt = pregel.CheckpointManager(spark, args.checkpoint_dir, args.run_id)
        if args.job == "cc":
            out = pregel.cc_checkpointed(
                spark, edges, ckpt, max_iterations=args.iterations
            )
        else:
            kernel = (pregel.pagerank_checkpointed if args.job == "pagerank"
                      else pregel.lpa_checkpointed)
            out = kernel(spark, edges, ckpt, iterations=args.iterations)
        print(json.dumps({"counters": ckpt.counters()[-3:]}))
    elif args.job == "triangles":
        from linkgraph.algos.triangles import triangle_counts

        out = triangle_counts(edges)
    elif args.job == "partition":
        from linkgraph.partition.strategies import partition_edges

        out = partition_edges(edges, args.strategy, args.k)
    elif args.job == "metrics":
        from linkgraph.partition.metrics import edge_partition_metrics
        from linkgraph.partition.strategies import partition_edges

        out = edge_partition_metrics(
            partition_edges(edges, args.strategy, args.k), args.k
        )
    elif args.job == "extract":
        from linkgraph.extract import extract_edges
        from linkgraph.synth import source_repo_table

        files, _ = source_repo_table(spark, shape="powerlaw_ba", n=500, m=3)
        out = extract_edges(files)
    elif args.job == "scc":
        from linkgraph.algos.scc import strongly_connected_components
        from linkgraph.graph import directed_edges_from_lineitem

        out = strongly_connected_components(
            directed_edges_from_lineitem(spark, args.sf_dir)
        )
    elif args.job == "bfs":
        from linkgraph.algos.bfs import bfs_distances

        out = bfs_distances(edges, sources=[1, 2],
                            max_iterations=args.iterations)
    elif args.job == "kcore":
        from linkgraph.algos.kcore import k_core

        out = k_core(edges, k=8, max_iterations=args.iterations)
    elif args.job == "walks":
        from linkgraph.algos.walks import random_walks

        out = random_walks(edges, walk_len=min(args.iterations, 8))
    elif args.job == "node2vec":
        from linkgraph.algos.walks import node2vec_walks

        out = node2vec_walks(edges, walk_len=min(args.iterations, 8))
    elif args.job == "clustering":
        from linkgraph.algos.clustering import clustering_coefficients

        out = clustering_coefficients(edges)
    elif args.job == "census":
        # one-row structural readout: size + closure + heavy-tail —
        # the log line a crawl-graph run opens with
        from linkgraph.algos.triangles import transitivity
        from linkgraph.queries import q_graph_summary, q_powerlaw_alpha

        out = (
            q_graph_summary(spark, args.sf_dir)
            .crossJoin(transitivity(edges))
            .crossJoin(q_powerlaw_alpha(spark, args.sf_dir).select("alpha"))
        )
    elif args.job == "modularity":
        from linkgraph.algos.lpa import label_propagation
        from linkgraph.algos.projection import modularity

        out = modularity(
            edges, label_propagation(edges, iterations=args.iterations)
        )
    elif args.job == "quantiles":
        from linkgraph.queries import q_degree_quantiles

        out = q_degree_quantiles(spark, args.sf_dir)
    elif args.job == "topo":
        from linkgraph.algos.dag import topo_levels

        out = topo_levels(edges, max_depth=args.iterations)
    elif args.job == "hll":
        from linkgraph.pipeline.queries import q_hll_distinct

        out = q_hll_distinct(spark, args.sf_dir)
    elif args.job == "heavy_hitters":
        from linkgraph.pipeline.queries import q_heavy_hitters

        out = q_heavy_hitters(spark, args.sf_dir)

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"job": args.job, "rows": spark.read.parquet(args.output).count(),
                          "output": args.output}))
    else:
        print(json.dumps({"job": args.job, "rows": out.count()}))


if __name__ == "__main__":
    main()
