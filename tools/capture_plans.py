"""Capture .explain("formatted") evidence for plans/r06/.

Usage: python tools/capture_plans.py <repo_root> <out_dir> <suffix>

Run once with the round-start snapshot (git archive HEAD) and once
with the working tree to produce <name>_before.txt / <name>_after.txt.

Two kinds of artifacts:
- query-level plans for touched one-shot queries (triangles, jaccard,
  …) — the driver-contract DataFrame's formatted plan;
- superstep-level plans for the iterative kernels (cc, kcore, lpa,
  topo, walks, hits, scc-propagate, pagerank) — the loop's per-round
  DataFrame built exactly the way the kernel builds it (same module
  code path: we call the kernel with 1 round where a hook exists, and
  otherwise reproduce the round body by calling the kernel's own
  helpers), because after the loop runs, checkpointing truncates the
  returned plan to a LogicalRDD scan and hides the round shape.

The per-round plans are captured by running ONE round of the kernel
with eager checkpointing disabled where possible; for kernels without
a hook we capture the plan of the first round's pre-checkpoint
DataFrame via a tiny shim that mirrors the kernel's first iteration
using the kernel's own cached-edge preparation (join_ready etc. comes
from the library under test, so the before/after diff reflects real
library behavior).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = sys.argv[1]
OUT = Path(sys.argv[2])
SUFFIX = sys.argv[3]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

sys.path.insert(0, ROOT)
OUT.mkdir(parents=True, exist_ok=True)


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def save(name: str, df) -> None:
    p = OUT / f"{name}_{SUFFIX}.txt"
    p.write_text(fmt(df))
    print("wrote", p)


def main() -> None:
    from pyspark.sql import functions as F

    from linkgraph.session import get_spark

    spark = get_spark(
        "capture-plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # Superstep plans are captured with auto-broadcast OFF: at gate SFs
    # AQE broadcasts the |V|-sized label/rank side, which hides the
    # edge-side exchange/sort question entirely — but the join_ready
    # claims are about the 10^9-vertex regime where that side is NOT
    # broadcastable and the join is sort-merge/shuffled-hash. The
    # one-shot query plans (triangles/jaccard) are additionally saved
    # with the default threshold (suffix _auto) to show AQE still
    # picks broadcast at gate scale without the removed hints.
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    from linkgraph.graph import edges_from_lineitem, symmetrize, vertices

    edges = edges_from_lineitem(spark, SF).repartition(32).cache()
    edges.count()

    # ---- one-shot queries (plan == the claim) ------------------------
    from linkgraph.algos.linkpred import jaccard_topk, common_neighbor_scores

    # triangle_total runs eagerly and returns a one-row local table:
    # capture its per-edge join instead
    from linkgraph.algos.triangles import _adjacency_rows, _edge_common

    save("triangle_total", _edge_common(_adjacency_rows(edges, True)))
    save("jaccard_topk", jaccard_topk(edges))
    save("common_neighbors", common_neighbor_scores(edges))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
    save("triangle_total_auto", _edge_common(_adjacency_rows(edges, True)))
    save("jaccard_topk_auto", jaccard_topk(edges))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # ---- iterative kernels: first-round plan -------------------------
    # The edge-side preparation is taken from the LIBRARY (cc/kcore/…
    # modules changed how sym is cached); the round body below mirrors
    # the kernel's loop body expression-for-expression.
    try:
        from linkgraph.graph import join_ready

        sym_src = join_ready(symmetrize(edges), "src").cache()
        sym_dst = join_ready(symmetrize(edges), "dst").cache()
    except ImportError:  # round-start snapshot has no join_ready
        sym_src = symmetrize(edges).cache()
        sym_dst = sym_src
    sym_src.count()

    # cc superstep (hash-min + pointer jump)
    labels = vertices(edges).withColumn("component", F.col("vid"))
    labels = labels.localCheckpoint(eager=True)
    nbr = sym_src.join(labels, sym_src["src"] == labels["vid"]).select(
        F.col("dst").alias("vid"), F.col("component")
    )
    new_labels = (
        nbr.unionByName(labels.select("vid", "component"))
        .groupBy("vid")
        .agg(F.min("component").alias("component"))
    )
    save("cc_superstep", new_labels)

    # k_core peel round (join order is the library's: after = dst→src)
    alive = vertices(edges).localCheckpoint(eager=True)
    asrc = alive.select(F.col("vid").alias("src"))
    adst = alive.select(F.col("vid").alias("dst"))
    if SUFFIX == "after":
        deg = (
            sym_dst.join(adst, "dst").join(asrc, "src").groupBy("src")
            .agg(F.count("*").cast("long").alias("core_degree"))
        )
    else:
        deg = (
            sym_src.join(asrc, "src").join(adst, "dst").groupBy("src")
            .agg(F.count("*").cast("long").alias("core_degree"))
        )
    save("kcore_round", deg)

    # lpa round
    counts = (
        sym_src.join(labels.withColumnRenamed("component", "label"),
                     sym_src["src"] == labels["vid"])
        .select(F.col("dst").alias("vid"), "label")
        .groupBy("vid", "label")
        .agg(F.count("*").alias("cnt"))
    )
    save("lpa_round", counts)

    # topo_levels round
    lv = vertices(edges).select(
        "vid", F.lit(0).cast("long").alias("level")
    ).localCheckpoint(eager=True)
    cand = (
        lv.join(sym_src, lv["vid"] == sym_src["src"])
        .select(F.col("dst").alias("vid"), (F.col("level") + 1).alias("level"))
        .groupBy("vid")
        .agg(F.max("level").alias("level"))
    )
    save("topo_round", cand)

    # walk step (argmin over hash tickets)
    from linkgraph.hashing import md5_prefix_hash

    cur = vertices(edges).select(
        F.col("vid").alias("start_vid"), F.col("vid").alias("vid")
    ).localCheckpoint(eager=True)
    nxt = (
        cur.join(sym_src, cur["vid"] == sym_src["src"])
        .withColumn("h", md5_prefix_hash("src", 1, "dst", 985))
        .groupBy("start_vid")
        .agg(F.min_by(F.col("dst"), F.struct("h", "dst")).alias("vid"))
    )
    save("walk_step", nxt)

    spark.stop()


if __name__ == "__main__":
    main()
