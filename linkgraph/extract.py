"""Edge extraction: source-repo table → edge table.

The ingest stage of the north star: from an Iceberg/parquet table
``(repo, path, commit, lang, content)`` (10^12 files at production
scale), parse import statements out of ``content`` inside a vectorized
Arrow UDF, resolve them to file vertex ids, and emit ``edges(src,
dst)`` — dropping self-loops (reference parity:
/root/reference/converter/conversions.hpp:52-56) and deduplicating.

Per-row sha256 invariant (north rule): the scan that feeds the Arrow
UDF also computes the JVM-side ``F.sha2(content, 256)``, so both hashes
of a row come from one read of ``content``. The UDF computes
``hashlib.sha256(content)`` on the Python side of the boundary and flags
every file whose two hashes differ (data corruption crossing the Arrow
boundary, encoding drift). ``extract_edges`` counts the flags with an
Observation on the parse's one materialization and fails the job on any
mismatch. ``verify_sha`` stays as the standalone drift check: it joins
parsed rows back against a fresh scan of a source table and returns the
mismatch count.

Scale shape: the only wide ops are the resolve join (imports ⋈ file
ids on (repo, path) — shuffle on a composite key with near-uniform
distribution) and the final dedup. Column pruning keeps the 100 TB
``content`` column out of every stage after parsing.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from linkgraph.rolling import fill_observed

IMPORT_RE = re.compile(r"^import\s+([A-Za-z0-9_]+)\.([A-Za-z0-9_.]+)$", re.MULTILINE)


def file_ids(files: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Dense 0-based vertex id per (repo, path), ordered by (repo,
    path) — the Spark analog of the reference's contiguous vid contract
    (/root/reference/README.md:23-27) — WITHOUT a global sort:
    range-repartition on the key (contiguous key ranges per partition),
    sort within partitions only, then add per-partition offsets
    computed from a P-row size aggregate (P = #partitions — driver
    state is O(P), never O(|V|)). Produces exactly the ids of
    ``row_number() over (order by repo, path)`` (pinned in
    tests/test_extract.py) but the plan carries no SinglePartition
    exchange — the global-window formulation serializes 10^12 rows
    through one task."""
    distinct = files.select("repo", "path").distinct()
    spark = files.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    parts = (
        distinct.repartitionByRange(p, "repo", "path")
        .sortWithinPartitions("repo", "path")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    sizes = {
        r["_pid"]: r["count"] for r in parts.groupBy("_pid").count().collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    def add_ids(batches):
        seen = 0  # one invocation per partition → per-partition counter
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            out = pdf[["repo", "path"]].copy()
            out["vid"] = pd.RangeIndex(base + seen, base + seen + len(pdf)).astype(
                "int64"
            )
            seen += len(pdf)
            yield out

    return parts.mapInPandas(add_ids, schema="repo string, path string, vid long")


# parse_imports' output; sha_bad flags the sha256 mismatches
PARSED_ARROW = pa.schema(
    [(c, pa.string()) for c in ("repo", "path", "sha_py", "imp_repo", "imp_path")]
    + [("sha_bad", pa.bool_())]
)


def parse_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """The parse UDF's body: one Arrow batch of (repo, path, content,
    sha_jvm) code rows → one row per import statement. ``sha_bad`` is
    true on the first import row of a file whose Python sha256 differs
    from its JVM ``sha_jvm``, so its count is the number of mismatching
    files that produced a row — the rows ``verify_sha`` checks."""
    out = {name: [] for name in PARSED_ARROW.names}
    cols = batch.to_pydict()
    for repo, path, content, sha_jvm in zip(
        cols["repo"], cols["path"], cols["content"], cols["sha_jvm"]
    ):
        sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
        bad = sha != sha_jvm
        for m in IMPORT_RE.finditer(content):
            imp_repo, dotted = m.group(1), m.group(2)
            out["repo"].append(repo)
            out["path"].append(path)
            out["sha_py"].append(sha)
            out["imp_repo"].append(imp_repo)
            out["imp_path"].append(dotted.replace(".", "/") + ".py")
            out["sha_bad"].append(bad)
            bad = False
    return pa.RecordBatch.from_pydict(out, schema=PARSED_ARROW)


def parse_imports(files: DataFrame, langs: tuple[str, ...] = ("python",)) -> DataFrame:
    """mapInArrow over code rows → (repo, path, sha_py, imp_repo,
    imp_path, sha_bad); one output row per import statement. The JVM
    sha256 of ``content`` is computed in the projection that feeds the
    UDF, so the check reads ``content`` once (``parse_batch``)."""
    code = files.where(F.col("lang").isin(*langs)).select(
        "repo", "path", "content", F.sha2(F.col("content"), 256).alias("sha_jvm")
    )
    return code.mapInArrow(
        lambda batches: map(parse_batch, batches),
        schema=from_arrow_schema(PARSED_ARROW),
    )


def verify_sha(files: DataFrame, parsed: DataFrame) -> int:
    """North-rule per-row invariant: Python-side sha256 must equal the
    JVM-side sha2 for every extracted row. Returns mismatch count."""
    jvm = files.select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("sha_jvm")
    )
    return (
        parsed.select("repo", "path", "sha_py")
        .distinct()
        .join(jvm, ["repo", "path"])
        .where(F.col("sha_py") != F.col("sha_jvm"))
        .count()
    )


def extract_edges(
    files: DataFrame,
    langs: tuple[str, ...] = ("python",),
    enforce_sha: bool = True,
) -> DataFrame:
    """Full extraction: parse → sha-verify → resolve to vids →
    self-loop filter → dedup → canonical undirected (src < dst).

    With ``enforce_sha`` the parse is materialized here, in one job,
    and the ``sha_bad`` flags its UDF set are counted by an Observation
    on that job; any flag raises ``ValueError``."""
    # cache: the Arrow parse over the full content column is the most
    # expensive stage of the job — without this, the sha check's action
    # and the resolve joins would each run it (2× the 100 TB scan).
    # sha_py is not cached: once sha_bad is set nothing here reads it
    parsed = parse_imports(files, langs).drop("sha_py").cache()
    if enforce_sha:
        bad = fill_observed(parsed, F.count_if("sha_bad").alias("bad"))["bad"]
        if bad:
            parsed.unpersist()
            raise ValueError(f"sha256 invariant violated on {bad} rows")
    # vertex universe = code files only (non-code rows are not graph
    # vertices and must not shift the dense id space)
    ids = file_ids(files.where(F.col("lang").isin(*langs))).cache()
    src_ids = ids.withColumnRenamed("vid", "src")
    dst_ids = (
        ids.withColumnRenamed("repo", "imp_repo")
        .withColumnRenamed("path", "imp_path")
        .withColumnRenamed("vid", "dst")
    )
    edges = (
        parsed.join(src_ids, ["repo", "path"])
        .join(dst_ids, ["imp_repo", "imp_path"])
        .select("src", "dst")
    )
    canonical = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return canonical.where(F.col("src") != F.col("dst")).distinct()
