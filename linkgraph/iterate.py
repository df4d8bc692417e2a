"""The one superstep loop (Pregel: one compute loop, vote to halt).

A kernel is a start state plus a ``step``; ``iterate`` runs it and owns
everything between two steps:

- **Lineage.** A rolling ``localCheckpoint`` every ``every`` rounds and
  after the last (``linkgraph.rolling.RollingCheckpoint``), or, with a
  ``sink`` (a ``linkgraph.pregel.CheckpointManager``), a durable
  snapshot per round. The sink resumes from its highest complete
  superstep, writes superstep 0 on a fresh run, warns when it already
  holds more supersteps than asked for, stamps each round's counters
  and marks the round that stopped the loop ``converged``
  (``pregel.cc_checkpointed`` answers a resume after convergence from
  that snapshot, before any setup).
- **The stop test.** ``watch`` is a list of aggregate Columns observed
  on each checkpoint round's output (an ``Observation``: it rides the
  checkpoint or snapshot job and costs no job of its own); the loop
  stops after the first such round whose values satisfy ``until``. A
  step may emit helper columns a watch reads (CC's ``own``); the loop
  projects every round's output to the start state's columns.
- **Storage.** Every generation the loop rolled is released when it
  returns, except the one it returns. The returned state is a rolled
  generation or a snapshot read-back, so it outlives whatever the
  kernel built its rounds from; the kernel still frees its own input
  caches and setup tables in its ``finally``.

``step(state, s, cut)`` builds superstep ``s`` (1-based) from the
previous state. ``cut`` checkpoints an intermediate table of the round
(CC's min labels before its pointer-jump self-join); the loop releases
it like a rolled generation.
"""

from __future__ import annotations

import time
import warnings
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation

from linkgraph.pregel import CheckpointManager
from linkgraph.rolling import RollingCheckpoint


def iterate(
    start: DataFrame,
    step: Callable[[DataFrame, int, Callable[[DataFrame], DataFrame]], DataFrame],
    rounds: int,
    every: int = 1,
    watch: list[Column] | None = None,
    until: Callable[[dict], bool] | None = None,
    sink: CheckpointManager | None = None,
    resume: bool = True,
    counters: dict | None = None,
    times: list | None = None,
) -> DataFrame:
    """Run ``step`` for supersteps 1..``rounds`` from ``start`` and
    return the last state (module docstring). ``counters``: the record
    each durable superstep commits (``max_partition_skew`` and
    ``wall_ms`` are filled in by the snapshot write); with a ``watch``
    it also carries ``converged``. ``times`` receives each round's wall
    seconds (its jobs run inside it only when the round checkpoints).

    A sink's snapshot whose columns are not ``start``'s was written by
    another kernel or an older state layout; stepping from it would
    fail or compute garbage mid-loop, so a resume refuses it."""
    cols = start.columns
    record = dict(counters or {})
    if watch:
        record["converged"] = False
    roll = RollingCheckpoint()
    out = None
    try:
        state, first = start, 1
        latest = sink.latest() if sink is not None and resume else None
        if latest is not None:
            state = sink.read(latest)
            if set(state.columns) != set(cols):
                raise ValueError(
                    f"checkpoint {sink.run_id} superstep={latest} holds columns "
                    f"{sorted(state.columns)}, not this kernel's state "
                    f"{sorted(cols)} (written by another kernel or an older state "
                    "layout); pass resume=False or a fresh run_id to recompute"
                )
            first = latest + 1
            if latest > rounds:
                warnings.warn(
                    f"checkpoint {sink.run_id} already holds superstep {latest} > "
                    f"requested {rounds}; returning the later state (pass "
                    "resume=False or a fresh run_id to recompute)",
                    stacklevel=3,
                )
        elif sink is not None:
            zero = {"edges_scanned": 0, "messages_sent": 0,
                    "max_partition_skew": 0.0, "wall_ms": 0.0}
            state = sink.write(0, start, {**record, **zero})
        elif rounds == 0:
            state = roll(start)
        for s in range(first, rounds + 1):
            t0 = time.perf_counter()
            new = step(state, s, roll)
            at_checkpoint = sink is not None or s % every == 0 or s == rounds
            obs = None
            if watch and at_checkpoint:
                obs = Observation()
                new = new.observe(obs, *watch)
            if set(new.columns) != set(cols):
                new = new.select(*cols)
            if sink is not None:
                new = sink.write(s, new, record, t0=t0)
            elif at_checkpoint:
                new = roll(new)
            state = new
            if times is not None:
                times.append(time.perf_counter() - t0)
            if obs is not None and until(obs.get):
                if sink is not None:
                    sink.mark_converged(s)
                break
        out = state
    finally:
        roll.release(keep=out)
    return out


def unchanged(key: str) -> Callable[[dict], bool]:
    """An ``until`` that stops at the first checkpoint whose watched
    ``key`` equals the previous checkpoint's (a peel's survivor count:
    k-core, k-truss)."""
    last = {}

    def until(values: dict) -> bool:
        stable = values[key] == last.get(key)
        last[key] = values[key]
        return stable

    return until
