"""Edge extraction from the synthetic source-repo corpus: ground-truth
parity, lang filtering, sha256 invariant (and its violation path)."""

import hashlib

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from linkgraph import extract
from linkgraph.extract import (
    extract_edges,
    file_ids,
    parse_batch,
    parse_imports,
    verify_sha,
)
from linkgraph.synth import source_repo_table

# jobs extract_edges runs to parse the corpus and check every parsed
# row's sha256: the fill of the parse's cache, with the mismatch count
# observed on it. A change that adds one must say why.
PARSE_AND_SHA_JOBS = 1


@pytest.fixture(scope="module")
def corpus(spark):
    return source_repo_table(spark, shape="powerlaw_ba", n=60, m=2, seed=42)


def test_extraction_matches_ground_truth(spark, corpus):
    files, truth = corpus
    code = files.where(F.col("lang") == "python")
    ids = {(r["repo"], r["path"]): r["vid"] for r in file_ids(code).collect()}
    # ground-truth vids are the generator's dense ids; extraction ids
    # come from sorted (repo, path) order over code files — same order
    # by construction
    got = {(r["src"], r["dst"]) for r in extract_edges(files).collect()}
    want = {(min(u, v), max(u, v)) for u, v in truth}
    assert got == want
    assert len(ids) == max(v for e in truth for v in e) + 1


def test_file_ids_dense_no_global_sort(spark, corpus):
    """file_ids must equal row_number() over (order by repo, path)
    (dense, deterministic) while the plan carries NO single-partition
    exchange — the distributed dense-id contract (SURVEY.md §2.1 S8
    ingest at 10^12 files)."""
    files, _ = corpus
    code = files.where(F.col("lang") == "python")
    got = {(r["repo"], r["path"]): r["vid"] for r in file_ids(code).collect()}
    want_order = sorted(
        {(r["repo"], r["path"]) for r in code.select("repo", "path").collect()}
    )
    want = {rp: i for i, rp in enumerate(want_order)}
    assert got == want
    plan = file_ids(code)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_file_ids_partition_count_invariant(spark, corpus):
    """Same ids at any parallelism (per-partition offsets compose)."""
    files, _ = corpus
    code = files.where(F.col("lang") == "python")
    a = {r["repo"] + r["path"]: r["vid"] for r in file_ids(code, 2).collect()}
    b = {r["repo"] + r["path"]: r["vid"] for r in file_ids(code, 7).collect()}
    assert a == b


def test_text_rows_produce_no_edges(spark, corpus):
    files, _ = corpus
    parsed = parse_imports(files, langs=("python",))
    joined = parsed.join(
        files.where(F.col("lang") == "text").select("repo", "path"),
        ["repo", "path"],
    )
    assert joined.count() == 0


def test_sha_invariant_holds(spark, corpus):
    files, _ = corpus
    assert verify_sha(files, parse_imports(files)) == 0


def test_sha_invariant_detects_corruption(spark, corpus):
    files, _ = corpus
    parsed = parse_imports(files)
    # corrupt the source table after parsing (simulates content drift
    # between extraction passes)
    corrupted = files.withColumn(
        "content", F.concat(F.col("content"), F.lit("x"))
    )
    assert verify_sha(corrupted, parsed) > 0


def test_parse_batch_flags_the_mismatching_row():
    """The UDF body flags a file whose JVM sha differs from its Python
    sha256, once, on the file's first import row, and nothing else."""
    contents = [
        "import r0.a\nimport r1.b.c\n",
        "import r2.d\nimport r0.e\n",
        "no imports here\n",
    ]
    shas = [hashlib.sha256(c.encode("utf-8")).hexdigest() for c in contents]
    shas[1] = "0" * 64
    batch = pa.RecordBatch.from_pydict(
        {"repo": ["r0", "r1", "r2"], "path": ["a.py", "b.py", "c.py"],
         "content": contents, "sha_jvm": shas}
    )
    out = parse_batch(batch).to_pydict()
    assert out["path"] == ["a.py", "a.py", "b.py", "b.py"]
    assert out["imp_path"] == ["a.py", "b/c.py", "d.py", "e.py"]
    assert out["sha_bad"] == [False, False, True, False]
    assert out["sha_py"][2] == hashlib.sha256(contents[1].encode()).hexdigest()


def test_extract_edges_raises_on_corruption(spark, corpus, monkeypatch):
    """A JVM hash that differs from the Python one on one parsed file
    fails extraction, naming the count; a clean corpus passes."""
    files, _ = corpus
    edges = extract_edges(files, enforce_sha=True)
    assert edges.count() > 0
    victim = parse_imports(files).first()
    stock_sha2 = F.sha2

    def drifted_sha2(col, bits):
        hit = (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"])
        return F.when(hit, F.lit("0" * 64)).otherwise(stock_sha2(col, bits))

    monkeypatch.setattr(extract.F, "sha2", drifted_sha2)
    with pytest.raises(ValueError, match=r"sha256 invariant violated on 1 rows"):
        extract_edges(files, enforce_sha=True)


def test_parse_and_sha_check_job_count_pinned(spark, corpus, monkeypatch):
    """The parse and the sha check of every parsed row run as
    PARSE_AND_SHA_JOBS jobs together."""
    files, _ = corpus
    parse_imports(files).unpersist()  # an earlier test's cache, same plan
    sc = spark.sparkContext
    stock = extract.fill_observed

    def counted(df, *metrics):
        sc.setJobGroup("parse-and-sha", "extract_edges parse and sha check")
        try:
            return stock(df, *metrics)
        finally:
            sc.setJobGroup(None, None)

    monkeypatch.setattr(extract, "fill_observed", counted)
    extract_edges(files, enforce_sha=True)
    jobs = sc.statusTracker().getJobIdsForGroup("parse-and-sha")
    assert len(jobs) == PARSE_AND_SHA_JOBS


def test_no_self_loops_and_canonical(spark, corpus):
    files, _ = corpus
    e = extract_edges(files)
    assert e.where(F.col("src") >= F.col("dst")).count() == 0
    assert e.count() == e.distinct().count()


def test_edges_from_events_contract(spark):
    """Second graph source honors the edge contract: src < dst,
    distinct, no self-loops, deterministic across invocations."""
    from linkgraph.graph import edges_from_events

    e1 = edges_from_events(spark, "/root/testdata/sf0.001")
    rows = e1.collect()
    assert all(r["src"] < r["dst"] for r in rows)
    assert len(rows) == len({(r["src"], r["dst"]) for r in rows})
    rows2 = edges_from_events(spark, "/root/testdata/sf0.001").collect()
    assert {(r["src"], r["dst"]) for r in rows} == {
        (r["src"], r["dst"]) for r in rows2
    }


def test_adjacency_roundtrip_and_comment_skip(spark):
    """S7 converter: adjacency text → edges reproduces the source
    graph; comment lines ('#'/'%') and duplicate directions collapse
    (reference conversions.cpp:33-36, 106-109)."""
    from linkgraph.graph import adjacency_lists, edges_from_adjacency

    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    back = {
        (r["src"], r["dst"])
        for r in edges_from_adjacency(adjacency_lists(df)).collect()
    }
    assert back == set(edges)
    lines = spark.createDataFrame(
        [("# comment",), ("% other",), ("5 6 7",), ("6 5",), ("7 7",)],
        "value string",
    )
    got = {
        (r["src"], r["dst"]) for r in edges_from_adjacency(lines).collect()
    }
    assert got == {(5, 6), (5, 7)}  # dedup both directions, no self-loop
