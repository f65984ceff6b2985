"""Spans, Spark engine counters and host gauges for the benchmark.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into sum_spark, engine counters are read from
Spark's status store under a job group the benchmark sets, and host
gauges come from /proc. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_bytes", "shuffleReadBytes", 1),
    ("shuffle_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class Tracer:
    """Span recorder. Disabled, ``span`` is a bare ``yield``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name, over the timed ops only: total duration minus the
        time its children cover."""
        timed = [s for s in self.spans if s["op"] is not None]
        out: dict[str, float] = {}
        for s in timed:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        for s in timed:
            if s["parent"] is not None:
                parent = self.spans[s["parent"]]["name"]
                out[parent] -= s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, fh)


class Engine:
    """Spark-side counters for the jobs of one job group."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.tracer = tracer
        self.totals: dict[str, float] = {}

    def group(self, name: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(name, name, False)

    def collect(self, name: str) -> int:
        """Add the finished jobs of group ``name`` to the totals; returns
        the job count. Drains the listener bus first so the status store
        holds every job the group ran (the counts are then exact)."""
        if not self.tracer.enabled:
            return 0
        with self.tracer.bookkeeping():
            self.jsc.listenerBus().waitUntilEmpty()
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(name))
            store = self.jsc.statusStore()
            add = self._add
            add("jobs", len(jobs))
            for jid in jobs:
                info = self.sc.statusTracker().getJobInfo(jid)
                for sid in info.stageIds:
                    st = store.lastStageAttempt(int(sid))
                    if st.status().toString() == "SKIPPED":
                        continue
                    add("stages", 1)
                    add("tasks", st.numTasks())
                    for key, attr, scale in STAGE_FIELDS:
                        add(key, getattr(st, attr)() * scale)
        return len(jobs)

    def _add(self, key: str, v: float) -> None:
        self.totals[key] = self.totals.get(key, 0) + v

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None


def cpu_ticks() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    total = sum(vals[:8])  # guest time is already counted in user/nice
    idle = vals[3] + vals[4]
    return total, total - idle, vals[7]


def host_shares(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict:
    total = max(1, after[0] - before[0])
    return {
        "host.cpu_busy_share": (after[1] - before[1]) / total,
        "host.steal_share": (after[2] - before[2]) / total,
    }


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given live processes."""
    kb = 0
    for pid in pids:
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return kb / 1024.0
