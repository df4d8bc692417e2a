"""Counters read from a running Spark application, without the UI or an
event log.

``SparkStatus`` sums jobs, stages, tasks, shuffle and spill bytes and
executor run time over the jobs of one job group, read from Spark's
live status store through py4j, and reads the storage the block
manager still holds. ``RssSampler`` tracks the resident memory of the
driver JVM and every process under it (the Python workers).
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_PERIOD_S = 0.1


class SparkStatus:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store has seen the jobs that have already returned."""
        self._ssc.listenerBus().waitUntilEmpty(60_000)  # raises on timeout

    def group_totals(self, group: str) -> dict:
        """Totals over the jobs run under job group ``group``. Skipped
        stages (their shuffle output was reused) are not counted."""
        self.drain()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in job_ids:
            seq = self._store.job(j).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_ms": 0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def held_bytes(self) -> int:
        """Memory and disk bytes of every cached or checkpointed RDD the
        block manager still holds."""
        return sum(r.memSize() + r.diskSize() for r in self._ssc.getRDDStorageInfo())

    def release_all(self) -> None:
        """Drop every cached DataFrame and persisted RDD."""
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue  # process ended while scanning
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    tree, frontier = [root], [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in process_tree(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of ``tree_rss_bytes(root)``; ``window()``
    returns the peak since the previous call."""

    def __init__(self, root: int) -> None:
        self.root = root
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def window(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak
