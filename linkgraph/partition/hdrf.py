"""HDRF — High-Degree Replicated First streaming greedy vertex-cut.

Semantics follow the reference scorer
(/root/reference/algorithms/hdrf/hdrf.cpp:68-116) and the HDRF paper
(Petroni et al., CIKM'15; bundled at /root/reference/papers/HDRF.pdf):

Per edge (u, v), with partial degrees incremented *before* scoring
(the edge itself counts — hdrf.cpp:69-70):

    g(x, j) = 1 + (1 - deg_x / (deg_u + deg_v))   if x already mirrored on j
            = 0                                    otherwise
    bal(j)  = (max_load - load_j) / (eps + max_load - min_load)
    score_j = g(u, j) + g(v, j) + lambda * bal(j)

Partitions at or above ``max_partition_load = balance_ratio * m / k``
are skipped (hdrf.cpp:80-82; note: the reference's integer cast
``(uint64_t) balance_ratio`` truncates 1.05 → 1, capping at exactly
m/k — we implement the paper-intended float product and document the
divergence). Ties break to the lowest partition id (strict ``>``
argmax, hdrf.cpp:110-113). After assignment both endpoints are
mirrored on the winner and loads/min/max are updated
(hdrf.cpp:158-176, 125-129). Defaults lambda=1.1, balance_ratio=1.05
(/root/reference/baseGraph/base_graph.hpp:21-22), eps=1
(/root/reference/algorithms/hdrf/hdrf.hpp:42).

HDRF is inherently sequential — every decision reads state written by
all prior decisions. Three execution modes, same scoring core:

- ``hdrf_oracle``          pure-Python driver-side loop (tests, tiny graphs)
- ``hdrf_spark(exact=True)``  all edges through ONE applyInPandas group in a
  deterministic stream order — bit-identical to the oracle, used for
  parity tests and the driver correctness gate. Single-task by design.
- ``hdrf_spark(exact=False)`` chunked-streaming approximation (the
  scale path): the driver iterates over C deterministic hash chunks;
  per-vertex state (partial degrees + mirror sets) is carried as a
  distributed DataFrame joined onto each chunk's edges — nothing
  O(|V|) ever lands on the driver or in a broadcast. Each chunk
  splits into T src-hash groups, each running the same sequential
  assigner over the row-carried state snapshot under a per-task
  balance budget; the state delta merges back via one full-outer
  join per chunk. Approximation error is cross-group staleness
  within a chunk — RF approaches exact HDRF as C grows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAMBDA = 1.1
BALANCE_RATIO = 1.05
EPSILON = 1.0
STREAM_SEED = 985  # reference DEFAULT_SEED (base_graph.hpp:48)
# Fixed parallel-group count for the chunked paths: output is then a
# pure function of the input (NOT of the session's core count), so
# results reproduce across environments and the chunked/offstream
# modes can be pinned to replay oracles. 32 groups still saturate any
# smaller local mode (groups ≫ cores is fine); raise explicitly for a
# wider cluster.
DEFAULT_CHUNK_TASKS = 32
# Offstream offline-phase chunk count (shared with the replay oracle,
# linkgraph/oracle/literal.py). 4 halves the offline pass count vs the
# round-2 default of 8; measured RF cost at sf0.01/k=8 is small and
# documented in ``offstream_spark``'s docstring — the offline phase
# exists for state quality, not final RF, so it tolerates coarser
# chunking better than a pure chunked run does.
OFFSTREAM_OFFLINE_CHUNKS = 4
# Default chunk count for the chunked-streaming scale path (the mode
# production runs; measured C sweep in ``hdrf_spark``'s docstring).
# Named so the replay oracle (linkgraph/oracle/literal.py) gates the
# SAME configuration the engine defaults to.
DEFAULT_NUM_CHUNKS = 12


def stream_ord_expr(src: str = "src", dst: str = "dst", seed: int = STREAM_SEED):
    """Deterministic stream-order key, engine-portable: the first 8 hex
    digits of md5("src,dst,seed") as a long — computable identically in
    Spark, DuckDB, and pure Python (``stream_ord_py``), so the exact
    sequential modes can be pinned to oracles OUTSIDE Spark (the
    literal-VALUES DuckDB oracles in linkgraph.oracle.literal). The
    reference shuffles its stream with an unseeded RNG
    (shuffler.cpp:15-118); any fixed pseudo-random order satisfies the
    same purpose (order-insensitivity of streaming partitioners) while
    staying reproducible."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(",", F.col(src), F.col(dst), F.lit(str(seed)))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def stream_ord_py(src: int, dst: int, seed: int = STREAM_SEED) -> int:
    """Pure-Python twin of ``stream_ord_expr`` — bit-identical."""
    import hashlib

    return int(hashlib.md5(f"{src},{dst},{seed}".encode()).hexdigest()[:8], 16)


def _murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (the HashPartitioning hash for
    a single long column) in pure Python — used to pre-compute group
    labels that spread perfectly across shuffle partitions."""
    M = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & M

    def mix_k1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & M
        k1 = rotl(k1, 15)
        return (k1 * 0x1B873593) & M

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        h1 = rotl(h1, 13)
        return (h1 * 5 + 0xE6546B64) & M

    low = value & M
    high = (value >> 32) & M
    h1 = mix_h1(seed & M, mix_k1(low))
    h1 = mix_h1(h1, mix_k1(high))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    # to signed 32-bit, then Spark's pmod
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


# Longs whose Spark ``hash`` must equal ``_murmur3_long``: zero, ±1, both
# sides of the 32-bit sign boundary, a set high word, the largest long
_MURMUR3_SAMPLE = (
    0, 1, -1, 42, 7919, 2**31 - 1, 2**31, -(2**31), 2**32 + 5, -(2**53) + 1, 2**63 - 1
)
_murmur3_checked: set[str] = set()


def _check_murmur3_replica(spark) -> None:
    """Fail loudly, once per SparkContext, if Spark's ``hash`` of
    ``_MURMUR3_SAMPLE`` differs from ``_murmur3_long``: the spread labels
    would then collide in the shuffle again, silently. The sample is an
    inline table, so the check runs on the driver and launches no job;
    later calls in the same context return at once."""
    app = spark.sparkContext.applicationId
    if app in _murmur3_checked:
        return
    rows = ", ".join(f"(CAST({v} AS BIGINT))" for v in _MURMUR3_SAMPLE)
    sample = spark.sql(f"SELECT hash(v) FROM VALUES {rows} AS t(v)")
    got = [r[0] for r in sample.collect()]
    want = [_murmur3_long(v) for v in _MURMUR3_SAMPLE]
    if got != want:
        raise AssertionError(
            f"Spark's hash() no longer matches hdrf._murmur3_long on "
            f"{_MURMUR3_SAMPLE}: got {got}, want {want}; _spread_group_labels "
            "cannot spread the partitioner's groups until the replica is "
            "brought in line"
        )
    _murmur3_checked.add(app)


def _spread_group_labels(n_groups: int, n_partitions: int) -> list[int]:
    """``n_groups`` long labels whose HashPartitioning residues modulo
    ``n_partitions`` are pairwise distinct (greedy search; falls back
    to best-effort when n_partitions < n_groups). Relabeling the
    applyInPandas group key with these is semantics-free — the groups
    are the same edge sets — but stops the classic balls-in-bins
    collision (guide §2.5: k keys hashed into k partitions leave ~37%
    of partitions empty and serialize up to 3 Python groups per task).
    """
    labels: list[int] = []
    used: set[int] = set()
    v = 0
    while len(labels) < n_groups and v < 1_000_000:
        r = _murmur3_long(v) % n_partitions
        if r < 0:
            r += n_partitions
        if r not in used:
            used.add(r)
            labels.append(v)
            if len(used) == n_partitions:
                used.clear()  # partitions saturated — start a new wave
        v += 1
    while len(labels) < n_groups:  # unreachable in practice
        labels.append(v)
        v += 1
    return labels


# ---------------------------------------------------------------- core

class _HdrfState:
    """Dense-indexed HDRF state (vertex ids remapped to 0..V-1)."""

    def __init__(self, n_vertices: int, k: int):
        self.k = k
        self.words = (k + 63) // 64
        self.pdeg = np.zeros(n_vertices, dtype=np.int64)
        self.mirrors = np.zeros((n_vertices, self.words), dtype=np.uint64)
        self.loads = np.zeros(k, dtype=np.int64)

    def set_mirrors(self, idx: np.ndarray, parts: np.ndarray) -> None:
        w = (parts // 64).astype(np.int64)
        b = np.uint64(1) << (parts % 64).astype(np.uint64)
        np.bitwise_or.at(self.mirrors, (idx, w), b)


def _sequential_assign(
    src_idx: np.ndarray,
    dst_idx: np.ndarray,
    state: _HdrfState,
    max_partition_load: int,
    lamb: float,
    budget: np.ndarray | None = None,
    mode: str = "hdrf",
) -> np.ndarray:
    """Exact sequential HDRF over dense-indexed edges, updating state
    in place.

    The per-edge loop is pure Python over int bit-masks and scalar
    doubles — measured ~4-6× faster than the former per-edge numpy
    temporaries (a dozen k-sized allocations per edge), and
    bit-identical: the same IEEE-754 double expressions in the same
    order, and the same first-max / first-min index tie rules as
    np.argmax / np.argmin. The full k-vector score scan is replaced by
    a candidate scan — mirror partitions of u/v plus the lowest-index
    min-load non-full partition — which provably contains the argmax:
    every non-mirror partition scores 0 + 0 + λ·bal(j), maximized
    (with the lowest-index tie) at exactly that min-load candidate,
    and a mirror partition always scores strictly above its own
    non-mirror formula value, so the true winner is always in the
    candidate set with its true score. Outputs are additionally pinned
    by the literal replay oracles and the sf0.1 fingerprints
    (OPTIMIZATION_r06.md)."""
    k = state.k
    n_edges = len(src_idx)
    out = np.empty(n_edges, dtype=np.int64)
    words = state.words
    # python-native state for the loop
    pdeg = state.pdeg.tolist()
    if words == 1:
        mirrors = [int(x) for x in state.mirrors[:, 0]]
    else:
        mirrors = [
            sum(int(state.mirrors[i, w]) << (64 * w) for w in range(words))
            for i in range(state.mirrors.shape[0])
        ]
    loads = state.loads.tolist()
    local_cnt = [0] * k
    budget_l = [int(b) for b in budget] if budget is not None else None
    cap = int(max_partition_load)
    max_load = max(loads) if loads else 0
    # min-load bookkeeping (O(1) per edge): a single increment can
    # only raise the min by one, and only when it hits the last
    # min-valued partition
    use_denom = sum(loads) > 0
    min_load = min(loads)
    cnt_min = loads.count(min_load)
    src_l = src_idx.tolist()
    dst_l = dst_idx.tolist()
    greedy = mode == "greedy"
    ALLK = (1 << k) - 1
    notfull = 0
    for j in range(k):
        f = (not greedy and loads[j] >= cap) or (
            budget_l is not None and local_cnt[j] >= budget_l[j]
        )
        if not f:
            notfull |= 1 << j
    for i in range(n_edges):
        u = src_l[i]
        v = dst_l[i]
        du = pdeg[u] + 1
        dv = pdeg[v] + 1
        pdeg[u] = du
        pdeg[v] = dv
        mu = mirrors[u]
        mv = mirrors[v]
        if greedy:
            # PowerGraph greedy (reference algorithms/greedy/greedy.cpp:17-91):
            # common partitions → least-loaded common; else any placed →
            # least-loaded of the union; else least-loaded overall.
            # Ties → lowest id (first-min scan, greedy.cpp:73-84).
            cand = mu & mv & notfull
            if not cand:
                cand = (mu | mv) & notfull
            if not cand:
                cand = notfull if notfull else ALLK
            p = -1
            best_l = None
            m = cand
            while m:
                j = (m & -m).bit_length() - 1
                lj = loads[j]
                if best_l is None or lj < best_l:
                    best_l = lj
                    p = j
                m &= m - 1
        elif not notfull:
            # every partition at capacity → least loaded (first-min)
            if budget_l is not None:
                p = 0
                best_l = loads[0] + local_cnt[0]
                for j in range(1, k):
                    t = loads[j] + local_cnt[j]
                    if t < best_l:
                        best_l = t
                        p = j
            else:
                p = 0
        else:
            s = float(du + dv)
            g_u = 1.0 + (1.0 - du / s)
            g_v = 1.0 + (1.0 - dv / s)
            denom = (EPSILON + (max_load - min_load)) if use_denom else None
            best_score = None
            p = -1
            m = (mu | mv) & notfull
            while m:
                j = (m & -m).bit_length() - 1
                g = (g_u if (mu >> j) & 1 else 0.0) + (
                    g_v if (mv >> j) & 1 else 0.0
                )
                bal = float(max_load - loads[j])
                if denom is not None:
                    bal = bal / denom
                sc = g + lamb * bal
                if (
                    best_score is None
                    or sc > best_score
                    or (sc == best_score and j < p)
                ):
                    best_score = sc
                    p = j
                m &= m - 1
            # lowest-index min-load non-full partition: the best (and
            # lowest-tie) achiever of the non-mirror score 0+0+λ·bal
            nm_p = -1
            nm_l = None
            m = notfull
            while m:
                j = (m & -m).bit_length() - 1
                lj = loads[j]
                if nm_l is None or lj < nm_l:
                    nm_l = lj
                    nm_p = j
                    if lj == min_load:
                        break  # cannot do better, lowest index wins
                m &= m - 1
            if nm_p >= 0:
                bal = float(max_load - nm_l)
                if denom is not None:
                    bal = bal / denom
                sc = 0.0 + 0.0 + lamb * bal
                if (
                    best_score is None
                    or sc > best_score
                    or (sc == best_score and nm_p < p)
                ):
                    best_score = sc
                    p = nm_p
        out[i] = p
        if budget_l is not None:
            local_cnt[p] += 1
            if local_cnt[p] >= budget_l[p]:
                notfull &= ~(1 << p)
        bit = 1 << p
        mirrors[u] |= bit
        mirrors[v] |= bit
        lp = loads[p] + 1
        loads[p] = lp
        if not greedy and lp >= cap:
            notfull &= ~(1 << p)
        if lp > max_load:
            max_load = lp
        if lp - 1 == min_load:
            cnt_min -= 1
            if cnt_min == 0:
                min_load += 1
                cnt_min = loads.count(min_load)
        use_denom = True
    # write the python-native state back into the shared numpy shape
    state.pdeg[:] = pdeg
    state.loads[:] = loads
    mask = (1 << 64) - 1
    for w in range(words):
        state.mirrors[:, w] = np.array(
            [(m >> (64 * w)) & mask for m in mirrors], dtype=np.uint64
        )
    return out


# ------------------------------------------------------------- oracle

def hdrf_oracle(
    edges: list[tuple[int, int]],
    k: int,
    lamb: float = LAMBDA,
    balance_ratio: float = BALANCE_RATIO,
    mode: str = "hdrf",
) -> list[int]:
    """Sequential HDRF over a Python edge list (stream order = list
    order). Returns the partition per edge. Test oracle + semantics
    ground truth."""
    vids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(vids)}
    src = np.array([idx[u] for u, _ in edges], dtype=np.int64)
    dst = np.array([idx[v] for _, v in edges], dtype=np.int64)
    state = _HdrfState(len(vids), k)
    cap = max(1, int(balance_ratio * len(edges) / k))
    return _sequential_assign(src, dst, state, cap, lamb, mode=mode).tolist()


# ------------------------------------------------------------- spark

def hdrf_spark(
    edges: DataFrame,
    k: int,
    lamb: float = LAMBDA,
    balance_ratio: float = BALANCE_RATIO,
    exact: bool = True,
    num_chunks: int = DEFAULT_NUM_CHUNKS,
    mode: str = "hdrf",
    route: str = "edge",
    chunking: str = "uniform",
) -> DataFrame:
    """HDRF on Spark → DataFrame[src, dst, partition].

    exact=True: one applyInPandas group, deterministic stream order —
    matches ``hdrf_oracle`` bit-for-bit. exact=False: chunked-streaming
    approximation (see module docstring); ``route`` picks the task
    grouping key ('edge' = hash of both endpoints, balanced tasks;
    'src' = co-locate each source vertex's edges, skew-prone);
    ``chunking`` 'geometric' makes chunk c hold ~2^c/(2^C−1) of the
    edges (measured on sf0.01: NOT better than uniform — the big final
    chunks dominate staleness — kept as an option for skewed streams).

    Measured RF at sf0.01/k=32/T=32 (exact = 9.87): C=4 → 15.5,
    C=8 → 11.0, C=12 → 10.22, C=16 → 10.17. The default C=12 lands
    within ~4%% of exact; quality is governed by edges-per-task-group
    (cross-group staleness), so at a fixed cluster width more chunks
    buy RF at the cost of one extra pass each — at 100 TB the
    per-chunk pass is huge and the fixed per-chunk overhead amortizes
    to nothing.
    """
    if exact:
        return _hdrf_exact(edges, k, lamb, balance_ratio, mode)
    return _hdrf_chunked(
        edges, k, lamb, balance_ratio, num_chunks, mode, route, chunking
    )


def _hdrf_exact(
    edges: DataFrame, k: int, lamb: float, balance_ratio: float, mode: str = "hdrf"
) -> DataFrame:
    m = edges.count()
    cap = max(1, int(balance_ratio * m / k))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort(
            (pdf["dst"].to_numpy(), pdf["src"].to_numpy(), pdf["_ord"].to_numpy())
        )
        pdf = pdf.iloc[order]
        vids = np.unique(np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]))
        src = np.searchsorted(vids, pdf["src"].to_numpy())
        dst = np.searchsorted(vids, pdf["dst"].to_numpy())
        state = _HdrfState(len(vids), k)
        parts = _sequential_assign(src, dst, state, cap, lamb, mode=mode)
        return pd.DataFrame(
            {"src": pdf["src"].to_numpy(), "dst": pdf["dst"].to_numpy(), "partition": parts}
        )

    with_ord = edges.withColumn("_ord", stream_ord_expr()).withColumn(
        "_g", F.lit(0)
    )
    return (
        with_ord.groupBy("_g")
        .applyInPandas(run, schema="src long, dst long, partition long")
    )


def offstream_spark(
    edges: DataFrame,
    k: int,
    ratio: float = 0.5,
    lamb: float = LAMBDA,
    balance_ratio: float = BALANCE_RATIO,
    mode: str = "hdrf",
    offline_chunks: int = OFFSTREAM_OFFLINE_CHUNKS,
    offline: str = "chunked",
) -> DataFrame:
    """Offstream hybrid partitioning (reference offstreamNH/NG:
    /root/reference/algorithms/offstreamNH/offstreamNH.cpp:82-182,
    EDGE_RATIO split at base_graph.hpp:24, base_graph.cpp:64-74): the
    first ``ratio`` of the edges is partitioned OFFLINE (the
    batch-quality phase), then the remaining stream is processed in
    ONE streaming pass whose scorer is seeded from the frozen prefix
    state (mirrors + partial degrees + loads). This is the
    incremental-edges story: yesterday's graph is partitioned offline,
    today's new edges stream against it without reshuffling the
    prefix.

    ``offline='chunked'`` uses the multi-pass chunked greedy;
    ``offline='ne_coarse'`` reproduces the reference's actual pairing
    (offstreamNH = NE partitions the prefix, HDRF streams the suffix)
    with the Spark-coarse NE — on community-structured graphs the NE
    prefix gives the streamed suffix far better mirror targets
    (tests/test_hdrf.py::test_offstream_ne_offline).

    Spark mapping: the prefix/suffix split is hash-based (the
    order-insensitive analog of the reference's stream prefix — the
    reference shuffles before splitting, so its prefix is a uniform
    sample too); the state handoff is one aggregation over the prefix
    assignment into the same DataFrame-carried vstate the chunked path
    uses. The balance cap is computed from the TOTAL edge count, as in
    the reference (cap fixed before streaming starts).

    Default offline_chunks trade-off, measured at sf0.01/k=8 (quiet
    machine, local[32]): 8 chunks → RF 5.90 @ 23.9s; 4 chunks →
    RF 6.40 @ 13.5s. The default is 4 — the offline phase's job is to
    seed mirror/degree state for the streamed suffix, and the +8.5%%
    RF costs 44%% of the wall time; pass offline_chunks=8+ when the
    offline phase's own RF matters more than pass count. See also
    ``linkgraph.partition.adwise.offstream_window_spark`` — the ADWISE
    window suffix recovers part of the gap (RF 6.31 @ 15.4s, same
    4-chunk prefix).
    """
    m = edges.count()
    split = F.pmod(F.xxhash64("src", "dst", F.lit(31337)), F.lit(1000)) < int(
        ratio * 1000
    )
    prefix = edges.where(split)
    suffix = edges.where(~split)
    if offline == "ne_coarse":
        from linkgraph.partition.ne import ne_coarse

        pre = ne_coarse(prefix, k)
    else:
        pre = _hdrf_chunked(
            prefix, k, lamb, balance_ratio, offline_chunks, mode=mode,
            total_edges=m,
        )
    vstate, loads = _state_from_assignment(pre, k)
    suf = _hdrf_chunked(
        suffix, k, lamb, balance_ratio, 1, mode=mode, total_edges=m,
        init_vstate=vstate, init_loads=loads,
    )
    return pre.unionByName(suf)


def hdrf_restream(
    edges: DataFrame,
    k: int,
    lamb: float = LAMBDA,
    balance_ratio: float = BALANCE_RATIO,
    mode: str = "hdrf",
    num_chunks: int = 8,
    passes: int = 2,
) -> DataFrame:
    """Restreaming chunked HDRF (ReLDG/ReFennel-style, Nishimura &
    Ugander's restreaming idea applied to vertex-cut): run the chunked
    pass, then re-stream the SAME edges with loads reset but the final
    pass state carried in — pass 2 scores every edge knowing (a) the
    TRUE total degree of both endpoints (the streaming pass only knows
    degrees-so-far, which is exactly the information gap the HDRF
    paper identifies) and (b) each vertex's DOMINANT pass-1 partition
    as a consolidation prior (carrying the full mirror set was
    measured to just reproduce pass 1's spread). Cost = ``passes`` ×
    one chunked pass; each pass is the same scale-safe machinery
    (DataFrame state, no O(|V|) driver structure).

    Measured at sf0.01/k=32 (exact sequential = 9.87): 2-pass C=12 →
    RF 10.07 vs 10.22 single-pass C=12 — a real but marginal gain at
    2× cost on this mildly-skewed graph; single-pass with more chunks
    dominates the cost/quality frontier here, so the DEFAULT stays
    single-pass and this operator is for graphs where degree knowledge
    is worth a full extra pass (heavy power-law streams)."""
    out = _hdrf_chunked(edges, k, lamb, balance_ratio, num_chunks, mode=mode)
    for _ in range(passes - 1):
        vstate, _ = _state_from_assignment(out, k, mirror_mode="top1")
        out = _hdrf_chunked(
            edges, k, lamb, balance_ratio, num_chunks, mode=mode,
            init_vstate=vstate,
        )
    return out


def _state_from_assignment(assigned: DataFrame, k: int, mirror_mode: str = "all"):
    """(vstate DataFrame[vid, pdeg, mirrors], loads k-vector) from an
    edge assignment — the chunked path's state shape, derived by one
    distributed aggregation (nothing O(|V|) on the driver).

    ``mirror_mode='top1'`` seeds each vertex with only its DOMINANT
    partition (most pass-1 edges, ties → lowest id) instead of the
    full mirror set — the consolidation prior used by the restreaming
    pass (a full mirror set would just tell pass 2 to reproduce pass
    1's spread)."""
    from pyspark.sql import Window

    touched = assigned.select(F.col("src").alias("vid"), "partition").unionAll(
        assigned.select(F.col("dst").alias("vid"), "partition")
    )
    if mirror_mode == "top1":
        per = touched.groupBy("vid", "partition").agg(F.count("*").alias("c"))
        w = Window.partitionBy("vid").orderBy(F.desc("c"), F.asc("partition"))
        top = per.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        )
        deg = touched.groupBy("vid").agg(F.count("*").alias("pdeg"))
        vstate = deg.join(
            top.select("vid", F.array("partition").alias("mirrors")), "vid"
        )
    else:
        vstate = touched.groupBy("vid").agg(
            F.count("*").alias("pdeg"),
            F.array_sort(F.collect_set("partition")).alias("mirrors"),
        )
    loads = np.zeros(k, dtype=np.int64)
    for r in assigned.groupBy("partition").count().collect():  # ≤ k rows
        loads[r["partition"]] += r["count"]
    return vstate, loads


def _hdrf_chunked(
    edges: DataFrame, k: int, lamb: float, balance_ratio: float, num_chunks: int,
    mode: str = "hdrf", route: str = "edge", chunking: str = "uniform",
    total_edges: int | None = None,
    init_vstate: DataFrame | None = None,
    init_loads: np.ndarray | None = None,
) -> DataFrame:
    """Chunked-streaming HDRF (the scale path) with DataFrame-carried
    vertex state — NO O(|V|) driver structure anywhere.

    Driver loop over C deterministic hash chunks. Per-vertex state
    (partial degree + mirror partition set) lives in a distributed
    ``vstate`` DataFrame ``[vid, pdeg, mirrors: array<long>]`` that is
    LEFT-JOINED onto each chunk's edges (state shuffles by vid — the
    standard co-partitioned join, sized by the chunk's touched-vertex
    count, not |V|). Each chunk splits into T deterministic hash groups
    on the SOURCE vertex (applyInPandas — groups cannot be coalesced
    away); each group runs the same *sequential* HDRF assigner over the
    state snapshot carried on its rows, under a per-task budget of
    (balance_target_j − loads_j)/T edges per partition so the global
    balance cap holds under parallelism. After a chunk, the state delta
    (degree increments + new mirrors) is computed distributedly and
    merged into ``vstate`` via one full-outer join, rolled through a
    localCheckpoint to truncate lineage. Only the k-length load vector
    ever touches the driver.

    Routing by src (not by edge hash) keeps each vertex's within-chunk
    edges in ONE sequential task, so its mirror set can't silently fan
    out across parallel groups — measurably better RF than edge-hash
    routing at the same chunk count.

    Deterministic: chunking, grouping, and within-group order are all
    hash-defined. Approximation vs exact HDRF = cross-group staleness
    within a chunk; RF approaches exact as C grows.

    Pre-pass: ONE job (a noop write) scans (src, dst) with each row's
    chunk id and observes the C chunk sizes; m = Σ chunk sizes unless
    ``total_edges`` is given. A cached ``edges`` is borrowed as it is
    and each chunk re-derives its rows from it; an uncached one is
    cached here (``rolling._scanned``), filled by the same write (one
    more job when its plan holds an exchange, for AQE materializes such
    a cache as a stage of its own) and released on return.
    """
    from linkgraph.rolling import RollingCheckpoint, _scanned, fill_observed, release

    spark = edges.sparkSession
    n_tasks = DEFAULT_CHUNK_TASKS
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    _check_murmur3_replica(spark)
    spread_ids = _spread_group_labels(n_tasks, n_shuffle)

    if chunking == "geometric":
        # slot ∈ [0, 2^C−1); chunk = floor(log2(slot+1)) gives chunk c
        # exactly 2^c of the slots → geometric sizes 1,2,4,…,2^(C−1)
        n_slots = (1 << num_chunks) - 1
        chunk_col = F.floor(
            F.log2(F.pmod(F.xxhash64("src", "dst", F.lit(985)), F.lit(n_slots)) + 1)
        ).cast("int")
    else:
        chunk_col = F.pmod(F.xxhash64("src", "dst", F.lit(985)), F.lit(num_chunks))
    # the pre-pass: one scan of the input, the chunk sizes riding it
    scanned, owned = _scanned(edges, "src", "dst")
    chunked = scanned.withColumn("_chunk", chunk_col)
    sizes = fill_observed(
        chunked,
        *[F.count_if(F.col("_chunk") == c).alias(f"c{c}") for c in range(num_chunks)],
    )
    chunk_sizes = [sizes[f"c{c}"] for c in range(num_chunks)]
    m = total_edges if total_edges is not None else sum(chunk_sizes)
    cap = max(1, int(balance_ratio * m / k))

    roll_state = RollingCheckpoint()
    vstate: DataFrame | None = init_vstate
    loads = (
        init_loads.copy() if init_loads is not None else np.zeros(k, dtype=np.int64)
    )
    # Size-gated state broadcast: while the state row count provably
    # stays under the cap, the two per-chunk state joins broadcast
    # instead of shuffling the chunk side twice (guide §3.1: broadcast
    # decided from real size, not a blind hint). State rows only grow,
    # so once the cap is exceeded the loop permanently reverts to the
    # lazy-checkpoint + co-partitioned-join path — which at 100 TB is
    # what runs from chunk 0 (first chunk's state ≈ 2m/C rows ≫ any
    # sane cap).
    import os as _os

    bcast_rows_cap = int(
        _os.environ.get("SPARK_GRAFT_STATE_BROADCAST_ROWS", "1000000")
    )
    # Smallest known upper bound on vstate's row count: exact right
    # after an observed merge, otherwise previous bound + 2×chunk edges
    # (each edge introduces at most two unseen vertices). The bound
    # lets the merge roll LAZILY while it stays under the broadcast cap
    # — the merge then materializes inside the next chunk's broadcast
    # build instead of as its own ~1 s job — and an exact count is
    # re-observed only when the bound crosses the cap. None = unknown
    # (init_vstate) or known-large → permanent co-partitioned-join path.
    state_rows_ub: int | None = 0 if init_vstate is None else None
    results = []
    try:
        for c in range(num_chunks):
            if not chunk_sizes[c]:
                continue
            # Per-task budget: the GLOBAL cap's remaining headroom split
            # across the T parallel groups — guarantees final loads ≤
            # cap + T while leaving early chunks free to follow the score
            # (mid-stream balance is the bal term's job, exactly as in the
            # reference's sequential pass; a cumulative quota here would
            # force tiny warm-up chunks to spray edges across partitions,
            # measurably wrecking RF).
            budget = np.maximum(1, np.ceil((cap - loads) / n_tasks)).astype(
                np.int64
            )
            task_key = (
                F.xxhash64("src", F.lit(7919))
                if route == "src"
                else F.xxhash64("src", "dst", F.lit(7919))
            )
            # project _chunk away: applyInPandas ships every column to the
            # Python worker (guide §4.1 — pass only what the function needs).
            # The group id is relabeled through _spread_group_labels so the
            # T groups land in T distinct shuffle partitions — the raw
            # 0..T-1 ids hash-collide and serialize Python groups (§2.5).
            chunk = (
                chunked.where(F.col("_chunk") == c)
                .withColumn(
                    "_task",
                    F.element_at(
                        F.array(*[F.lit(v) for v in spread_ids]),
                        (F.pmod(task_key, F.lit(n_tasks)) + 1).cast("int"),
                    ),
                )
                .select("src", "dst", "_task")
            )
            if vstate is None:
                joined = (
                    chunk.withColumn("src_pdeg", F.lit(None).cast("long"))
                    .withColumn("src_mir", F.lit(None).cast("array<long>"))
                    .withColumn("dst_pdeg", F.lit(None).cast("long"))
                    .withColumn("dst_mir", F.lit(None).cast("array<long>"))
                )
            else:
                s_state = vstate.select(
                    F.col("vid").alias("src"),
                    F.col("pdeg").alias("src_pdeg"),
                    F.col("mirrors").alias("src_mir"),
                )
                d_state = vstate.select(
                    F.col("vid").alias("dst"),
                    F.col("pdeg").alias("dst_pdeg"),
                    F.col("mirrors").alias("dst_mir"),
                )
                if state_rows_ub is not None and state_rows_ub <= bcast_rows_cap:
                    s_state = F.broadcast(s_state)
                    d_state = F.broadcast(d_state)
                joined = chunk.join(s_state, "src", "left").join(d_state, "dst", "left")

            # Per-partition load counts ride the checkpoint action as an
            # Observation (k sum-expressions) instead of a separate
            # collect job per chunk (guide §1/§2: one less job × C chunks).
            from pyspark.sql import Observation

            obs = Observation()
            assigned = (
                joined.withColumn("_ord", F.xxhash64("src", "dst", F.lit(985)))
                # explicit repartition: AQE never coalesces a user-specified
                # repartition, and groupBy reuses the exchange (same hash
                # distribution) — so with the spread labels every group gets
                # its own task and the Python runners execute fully parallel
                .repartition(n_shuffle, "_task")
                .groupBy("_task")
                .applyInPandas(
                    _make_chunk_runner(k, lamb, cap, budget, loads.copy(), mode),
                    schema="src long, dst long, partition long",
                )
                .observe(
                    obs,
                    *[
                        F.sum((F.col("partition") == p).cast("long")).alias(f"l{p}")
                        for p in range(k)
                    ],
                )
                .localCheckpoint(eager=True)
            )
            results.append(assigned)

            # state merge in ONE union + groupBy (identical result to the
            # former delta-aggregate + full-outer join — pdeg sums add up,
            # mirrors is the sorted distinct union — with one fewer shuffle
            # stage and a simpler plan; guide §2.4)
            touched = assigned.select(
                F.col("src").alias("vid"),
                F.lit(1).cast("long").alias("pdeg"),
                F.array("partition").alias("mirrors"),
            ).unionAll(
                assigned.select(
                    F.col("dst").alias("vid"),
                    F.lit(1).cast("long").alias("pdeg"),
                    F.array("partition").alias("mirrors"),
                )
            )
            merged = touched if vstate is None else vstate.unionByName(touched)
            vstate = merged.groupBy("vid").agg(
                F.sum("pdeg").alias("pdeg"),
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("mirrors")))
                ).alias("mirrors"),
            )
            # The merge always rolls LAZILY when it can — it then
            # materializes inside the NEXT chunk's join job (broadcast
            # build or co-partitioned join) instead of as its own job
            # (every shuffle job here costs ~1s of fixed overhead
            # regardless of bytes — measured, OPTIMIZATION_r06.md — so
            # per-chunk job count is the wall). Lazy is safe: chunk c+1
            # always consumes vstate_c before the roller frees
            # vstate_{c-1}'s parent generation. In broadcast mode the gate
            # rides the row-count UPPER BOUND; only when the bound crosses
            # the cap does one eager observed merge refresh it with the
            # exact count — if that is genuinely over the cap, the loop
            # permanently reverts to the co-partitioned-join path (which at
            # 100 TB is what runs from chunk 0).
            if state_rows_ub is None:
                vstate = roll_state(vstate, eager=False)
            else:
                state_rows_ub += 2 * chunk_sizes[c]
                if state_rows_ub <= bcast_rows_cap:
                    vstate = roll_state(vstate, eager=False)
                else:
                    obs_s = Observation()
                    vstate = roll_state(
                        vstate.observe(obs_s, F.count(F.lit(1)).alias("n"))
                    )
                    exact = obs_s.get["n"]
                    state_rows_ub = exact if exact <= bcast_rows_cap else None

            chunk_loads = obs.get  # populated by the eager checkpoint
            for p in range(k):
                loads[p] += chunk_loads[f"l{p}"]
    finally:
        # the output reads only the chunk checkpoints in ``results``
        roll_state.release()
        release(owned)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    # the union spans C × T checkpointed micro-partitions; coalesce
    # (narrow, no shuffle) so downstream consumers (metrics, writes)
    # don't pay C×T task launches per scan
    return out.coalesce(n_shuffle)


def _make_chunk_runner(
    k: int, lamb: float, cap: int, budget: np.ndarray, loads: np.ndarray, mode: str
):
    """applyInPandas factory for one chunk group: seeds a local dense
    HDRF state for ONLY the vertices this group touches from the
    state columns carried on the joined rows, then runs the sequential
    assigner (identical scoring core to exact mode)."""

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort(
            (pdf["dst"].to_numpy(), pdf["src"].to_numpy(), pdf["_ord"].to_numpy())
        )
        pdf = pdf.iloc[order]
        src_v = pdf["src"].to_numpy()
        dst_v = pdf["dst"].to_numpy()
        all_v = np.concatenate([src_v, dst_v])
        vids, first_idx = np.unique(all_v, return_index=True)
        st = _HdrfState(len(vids), k)
        st.loads = loads.copy()
        # seed pdeg/mirrors from the join columns (same snapshot on
        # every row mentioning the vertex — first occurrence suffices)
        pdegs = np.concatenate(
            [
                pdf["src_pdeg"].fillna(0).to_numpy(dtype=np.int64),
                pdf["dst_pdeg"].fillna(0).to_numpy(dtype=np.int64),
            ]
        )
        st.pdeg[:] = pdegs[first_idx]
        mirs = list(pdf["src_mir"]) + list(pdf["dst_mir"])
        for vi, row_i in enumerate(first_idx):
            mlist = mirs[row_i]
            if mlist is not None and len(mlist):
                ps = np.asarray(mlist, dtype=np.int64)
                st.set_mirrors(np.full(len(ps), vi, dtype=np.int64), ps)
        src = np.searchsorted(vids, src_v)
        dst = np.searchsorted(vids, dst_v)
        parts = _sequential_assign(
            src, dst, st, cap, lamb, budget=budget, mode=mode
        )
        return pd.DataFrame({"src": src_v, "dst": dst_v, "partition": parts})

    return run_group
