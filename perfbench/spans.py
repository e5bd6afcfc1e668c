"""In-memory spans around calls into the program, plus host and process
probes.

A span runs its body under its own Spark job group. On exit it reads,
from the Spark driver's status tracker and status store, the jobs the group
ran, the stages they completed, the tasks those stages ran, and the
stages' shuffle write and spill bytes. Nothing inside the program
is instrumented: spans wrap the benchmark's own calls.
"""

from __future__ import annotations

import os
import platform
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: str | None
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """Records one :class:`Span` per ``span()`` block, keyed by name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, Span] = {}
        # Job groups outlive a tracer in the status store; a per-tracer
        # prefix keeps two tracers' groups apart.
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self._seq = 0
        self._stack: list[tuple[str, str]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1][0] if self._stack else None
        sp = Span(name, parent)
        self.spans[name] = sp
        self._seq += 1
        group = f"{self._prefix}-{self._seq}-{name}"
        self._stack.append((name, group))
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                outer, outer_group = self._stack[-1]
                self.sc.setJobGroup(outer_group, outer)
            else:
                self.sc._jsc.clearJobGroup()
            self._collect(sp, group)

    def _collect(self, sp: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        # Job-end events reach the status store through the async
        # listener bus; drain it so the span sees all of its jobs.
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        no_status = self.sc._jvm.java.util.ArrayList()
        stage_ids: set[int] = set()
        job_ids = tracker.getJobIdsForGroup(group)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        sp.jobs += len(job_ids)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += int(d.numCompleteTasks())
                sp.shuffle_write_bytes += int(d.shuffleWriteBytes())
                sp.spill_bytes += int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled())

    def self_s(self, name: str, inputs: list[str]) -> float:
        """Cumulative time of ``name`` minus that of the spans whose
        work it recomputes (its inputs)."""
        return self.spans[name].wall_s - sum(self.spans[i].wall_s for i in inputs)


def tree_bytes(path: str) -> int:
    """Bytes in the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0


def _proc_table() -> tuple[dict[int, list[int]], dict[int, list[bytes]]]:
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[bytes]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                parts = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        kids.setdefault(int(parts[1]), []).append(pid)
        stats[pid] = parts
    return kids, stats


def descendants(root: int) -> list[int]:
    kids, _ = _proc_table()
    out, stack = [], list(kids.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including children they have reaped (the Spark JVM and its Python
    workers, in local mode)."""
    kids, stats = _proc_table()
    tck = os.sysconf("SC_CLK_TCK")
    total, stack = 0.0, [root]
    while stack:
        p = stack.pop()
        parts = stats.get(p)
        if parts is not None:
            total += sum(int(x) for x in parts[11:15]) / tck
        stack.extend(kids.get(p, []))
    return total


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` and its live
    descendants."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_jiffies() -> tuple[int, int, int]:
    """Host-wide (busy, steal, total) CPU time so far, in clock ticks.
    Steal is time the hypervisor ran someone else while this machine
    had work."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v) - v[3] - v[4], v[7], sum(v)


def share(before: tuple[int, int, int], after: tuple[int, int, int], i: int) -> float:
    return (after[i] - before[i]) / max(after[2] - before[2], 1)


def host_busy(interval_s: float = 0.5) -> float:
    """Share of all CPUs' time spent busy over ``interval_s``."""
    j0 = cpu_jiffies()
    time.sleep(interval_s)
    return share(j0, cpu_jiffies(), 0)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def host_fingerprint(spark) -> dict:
    """What the figures depend on: cores, memory, Spark parallelism and
    driver heap, and the software versions."""
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "mem_total_gib": round(mem_kb / 1024 / 1024, 2),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory", "default"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
