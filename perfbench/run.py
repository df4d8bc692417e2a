"""Seeded, layered benchmark of linkgraph.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``workloads.py``): ``repo_pipeline`` and
``dense_kernels``. A run starts one local Spark session, builds the
workload's inputs and oracles from the seed, runs an untimed cold
pass, then timed passes for ``--seconds`` (at least ``TIMED_MIN``).
Every pass starts from a clean cache state, does identical work, and
has its outputs checked against the oracles.

``--trace 0`` prints the end-to-end metrics, medians over the timed
passes: ``setup_s`` (process start to session ready, plus the median
of ``SETUP_REPS`` builds of the inputs, plus the median input
re-materialization; the oracles are built outside it), ``wall_s``
(the timed section), ``edges_per_s`` (directed edges × supersteps ÷
seconds of the PageRank call), ``spark_jobs`` and ``shuffle_mb``
(shuffle bytes written) of the timed section, and ``peak_rss_mb``
(driver JVM plus Python workers).
``--trace 1`` alternates traced passes (each layer in its own Spark job
group) with untraced ones and prints the per-layer metrics: medians
over the traced passes. Units come from ``BENCHMARK.json``, which must
declare exactly the metrics printed. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
progress, with the sample count of ``wall_s``, goes to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
MB = 1024 * 1024
# local[N], N ≤ nproc. Measured on a 4-vCPU VM: the layers keep cores
# busy 0.15-0.5 of the time at local[2], and dense_kernels at local[4]
# is no faster (triangles slower). The process is not pinned to CORES
# CPUs: the ones left over run the driver's own threads (planning, the
# listener bus, GC, the JIT compiler); pinned, a dense_kernels run took
# 69 s instead of 58 s and its session start 8.5 s instead of 5.9 s
CORES = 2
DRIVER_MEMORY = "1g"
# C1 only: the driver's planning code reaches its compiled speed within
# the cold pass, instead of C2 recompiling it over the next several
# passes (on a 4-vCPU VM, repo_pipeline passes after the cold one went
# 11.2, 10.3, 9.2, 8.4 s with C2). C1 alone gets a 48 MB code cache,
# which Spark's generated code fills by the third or fourth pass; the
# flushing then slowed that pass's PageRank by 1.5 s, so the cache is
# given C2's default size
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# timed passes fill --seconds, at least TIMED_MIN of them. On a 4-vCPU
# VM the passes of one run agree within about 5%, while runs minutes
# apart differ by up to 25% with the host's load, so a third pass would
# steady a run's median little and would push a full set of benchmark
# runs past the hour
TIMED_MIN = 2
SETUP_REPS = 3
LAYER_KEYS = ("s", "jobs", "stages", "tasks", "shuffle_mb", "spill_mb", "busy_frac", "held_mb")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpu_control() -> float:
    """A fixed pure-Python CPU task, timed: a diagnostic of how fast the
    machine is at the moment. Never used to drop or rescale a pass."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def start_session(work: Path):
    """Local Spark session sized to this machine through get_spark's own
    parameters; every scratch file goes under ``work``."""
    from linkgraph.session import get_spark

    cores = min(CORES, len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM, the spark-submit launcher's too: temp files under work,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData {JIT_OPTS} -Djava.io.tmpdir={work / 'tmp'}"
    )
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "10000000",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers under it, and wait
    until every one of those processes has ended."""
    from sparkstat import process_tree

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    alive = pids
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if Path(f"/proc/{p}").exists()]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """Runs passes of one workload and counts attempts and failures."""

    def __init__(self, spark, status, wl, rss) -> None:
        self.spark, self.status, self.wl, self.rss = spark, status, wl, rss
        self.attempted = self.failed = 0

    def one_pass(self, traced: bool) -> dict:
        from workloads import Spans

        spark, status, wl = self.spark, self.status, self.wl
        self.attempted += 1
        n = self.attempted
        # identical work every pass: nothing cached, nothing checkpointed
        status.release_all()
        spark._jvm.java.lang.System.gc()
        t = time.perf_counter()
        wl.materialize()
        mat_s = time.perf_counter() - t
        cpu_s = cpu_control()

        tag = f"pass{n}"
        span = Spans(status, traced, tag)
        if not traced:
            spark.sparkContext.setJobGroup(tag, tag)
        self.rss.window()
        t = time.perf_counter()
        out = wl.run(span, n)
        wall = time.perf_counter() - t
        peak = self.rss.window()
        held = status.held_bytes()

        layers = {}
        if traced:
            for layer, rec in span.records.items():
                g = status.group_totals(rec["group"])
                layers[layer] = {
                    "s": rec["s"], "jobs": g["jobs"], "stages": g["stages"],
                    "tasks": g["tasks"], "shuffle_mb": g["shuffle_bytes"] / MB,
                    "spill_mb": g["spill_bytes"] / MB,
                    "busy_frac": g["run_ms"] / 1000 / (rec["s"] * status.cores),
                    "held_mb": rec["held_bytes"] / MB,
                }
            jobs = sum(r["jobs"] for r in layers.values())
            shuffle_mb = sum(r["shuffle_mb"] for r in layers.values())
        else:
            g = status.group_totals(tag)
            jobs, shuffle_mb = g["jobs"], g["shuffle_bytes"] / MB

        spark.sparkContext.setJobGroup("check", "check")
        bad = wl.check(out)
        self.failed += bool(bad)
        for msg in bad:
            log(f"  CHECK FAILED pass {n}: {msg}")
        log(f"  pass {n}{' traced' if traced else ''}: wall {wall:.3f}s jobs {jobs} "
            f"shuffle {shuffle_mb:.2f}MB rss {peak / MB:.0f}MB held {held / MB:.1f}MB "
            f"cpu {cpu_s:.3f}s {'FAIL' if bad else 'ok'}; "
            + " ".join(f"{k} {r['s']:.2f}s" for k, r in span.records.items()))
        return {
            "wall_s": wall, "mat_s": mat_s, "cpu_s": cpu_s,
            "pr_s": span.records[wl.pagerank_layer]["s"],
            "jobs": jobs, "shuffle_mb": shuffle_mb,
            "peak_rss_mb": peak / MB, "held_mb": held / MB,
            "layers": layers, "traced": traced,
            "extras": wl.layer_extras(out) if traced else {},
        }


def layer_metrics(traced: list[dict], pr_steps: int) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes, and the spread
    (max - min) of the counts. Zero for layers the workload does not
    call."""
    from workloads import EXTRAS, LAYERS

    out: dict[str, float] = {}
    for layer in LAYERS:
        rows = [p["layers"][layer] for p in traced if layer in p["layers"]]
        for key in LAYER_KEYS:
            out[f"{layer}.{key}"] = statistics.median(r[key] for r in rows) if rows else 0.0
        for key in ("jobs", "shuffle_mb"):
            vals = [r[key] for r in rows] or [0.0]
            out[f"{layer}.{key}_spread"] = max(vals) - min(vals)
    for key in EXTRAS:
        vals = [p["extras"][key] for p in traced if key in p["extras"]]
        out[key] = statistics.median(vals) if vals else 0.0
    out["algos.pagerank.jobs_per_superstep"] = out["algos.pagerank.jobs"] / pr_steps
    return out


def with_units(values: dict[str, float], trace: int) -> dict[str, dict]:
    """``values`` with the units ``BENCHMARK.json`` declares for them,
    in its order; every declared metric must be measured and no other."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: measured only "
                           f"{sorted(set(values) - set(units))}, declared only "
                           f"{sorted(set(units) - set(values))}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "linkgraph" / "__init__.py").is_file():
        log(f"perfbench: no linkgraph package under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    # Python workers import linkgraph too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from sparkstat import RssSampler, SparkStatus
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    spark = None
    try:
        spark = start_session(work)
        status = SparkStatus(spark)
        start_s = time.time() - T_PROCESS
        # inputs generated and written SETUP_REPS times, each into its own
        # directory; the last set is used
        input_times = []
        for rep in range(SETUP_REPS):
            (work / f"inputs{rep}").mkdir()
            t0 = time.time()
            wl = WORKLOADS[args.workload](spark, args.seed, work / f"inputs{rep}")
            input_times.append(time.time() - t0)
        inputs_s = statistics.median(input_times)
        t0 = time.time()
        wl.build_oracles()
        log(f"[{args.workload} seed={args.seed}] session {start_s:.2f}s, inputs "
            + " ".join(f"{t:.2f}" for t in input_times)
            + f"s, oracles {time.time() - t0:.2f}s")

        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        with RssSampler(jvm) as rss:
            runner = Runner(spark, status, wl, rss)
            # the cold pass: class loading, code generation, JIT, Python workers
            warmup_s = runner.one_pass(traced=False)["wall_s"]
            timed: list[dict] = []
            t0 = time.time()
            # traced runs alternate traced and untraced passes, starting
            # and ending traced: at least two traced passes give per-layer
            # counts a spread, and the untraced one between them gives the
            # tracing overhead without a warm-up trend
            while (len(timed) < TIMED_MIN or time.time() - t0 < args.seconds
                   or (args.trace and len(timed) % 2 == 0)):
                timed.append(runner.one_pass(traced=bool(args.trace) and len(timed) % 2 == 0))

        plain = [p for p in timed if not p["traced"]]
        wall_s = statistics.median(p["wall_s"] for p in plain)
        jobs = [p["jobs"] for p in timed]
        shuffle = [p["shuffle_mb"] for p in timed]
        # the highest percentile of wall_s with at least 10 samples beyond it
        tail = f"p{100 * (1 - 10 / len(plain)):.0f}" if len(plain) > 10 else "none"
        log(f"  warm-up wall: {warmup_s:.3f}")
        log(f"  timed walls (n={len(plain)}, median {wall_s:.3f}, tail {tail}): "
            + " ".join(f"{p['wall_s']:.3f}" for p in plain)
            + f"; jobs {sorted(set(jobs))}; shuffle_mb {min(shuffle):.3f}..{max(shuffle):.3f}")
        if args.trace:
            traced = [p for p in timed if p["traced"]]
            values = layer_metrics(traced, wl.pr_steps)
            values.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "timed_passes": len(timed),
                "session.cpu_control_s": statistics.median(p["cpu_s"] for p in timed),
                "held_storage_mb": statistics.median(p["held_mb"] for p in traced),
                "tracing_overhead_s": statistics.median(p["wall_s"] for p in traced) - wall_s,
                "spark_jobs_spread": max(jobs) - min(jobs),
                "shuffle_mb_spread": max(shuffle) - min(shuffle),
            })
        else:
            pr_s = statistics.median(p["pr_s"] for p in plain)
            values = {
                "setup_s": start_s + inputs_s + statistics.median(p["mat_s"] for p in timed),
                "wall_s": wall_s,
                "edges_per_s": wl.darts * wl.pr_steps / pr_s,
                "spark_jobs": statistics.median(p["jobs"] for p in plain),
                "shuffle_mb": statistics.median(p["shuffle_mb"] for p in plain),
                "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in timed),
            }
        metrics = with_units(values, args.trace)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still has its directory there

    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
