"""Measurement from outside the engine: spans, Spark counters, memory.

Everything here wraps calls the benchmark makes into the engine's public
functions; nothing reaches inside the engine. Spans are kept in memory
and written out once at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    layer: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. With ``enabled`` false every call is a
    cheap no-op, so the untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str,
             trace_id: str | None = None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer,
                  trace_id or (parent.trace_id if parent else name),
                  len(self.spans), parent.span_id if parent else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval covered by its children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reached = 0.0, s.start
            for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
                covered += max(0.0, c.end - max(c.start, reached))
                reached = max(reached, c.end)
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


#: Spark stage metrics summed per call (StageData getter -> counter name)
_STAGE_FIELDS = {
    "executorCpuTime": "executor_cpu_s",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputBytes": "input_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}
COUNTER_NAMES = ("jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s",
                 "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                 "input_bytes")


def spark_counters(spark, job_groups: list[str]) -> dict[str, float]:
    """Sum Spark's own stage metrics over every job of ``job_groups``:
    job ids by group from the status tracker, stage metrics from the
    status store (readable with the UI disabled). Streaming queries
    run their jobs under the query's run id as the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTER_NAMES, 0.0)
    stage_ids: set[int] = set()
    for group in job_groups:
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt recorded
            continue
        out["stages"] += 1
        for getter, name in _STAGE_FIELDS.items():
            out[name] += float(getattr(sd, getter)())
    out["executor_cpu_s"] /= 1e9
    return out


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                ppid = int(fh.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            return fh.read().strip() == b"java"
    except OSError:
        return False


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it, so summing over forked Python
    workers counts their common pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Background sampler of the summed resident memory (as PSS) of this
    process and its descendants (the JVM and the Python workers), minus
    any subtree rooted at an excluded pid (the benchmark's feeder)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_split_mb: dict[str, int] = {}
        self.exclude: set[int] = set()
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        pids = descendants(me)
        for ex in self.exclude:
            pids -= {ex} | descendants(ex)
        self.seen |= pids
        sizes = {p: _pss_bytes(p) for p in pids | {me}}
        total = sum(sizes.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            jvm = sum(v for p, v in sizes.items() if _is_java(p))
            self.peak_split_mb = {"jvm": round(jvm / 2**20),
                                  "python": round((total - jvm) / 2**20),
                                  "processes": len(sizes)}

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_heap_mb(spark) -> dict[str, int]:
    """The JVM's heap as its own memory beans report it: the cap, the
    committed size, the sum of each pool's peak use, and the live set
    (the heap pools' use after their last collection)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    peak = live = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) != "Heap memory":
            continue
        peak += pool.getPeakUsage().getUsed()
        after_gc = pool.getCollectionUsage()
        live += after_gc.getUsed() if after_gc is not None else 0
    mb = 2**20
    return {"max": round(heap.getMax() / mb), "committed": round(heap.getCommitted() / mb),
            "pool_peaks": round(peak / mb), "live_after_gc": round(live / mb)}


def load_canary() -> dict:
    """Host-load diagnostic, not a metric: a fixed pure-Python loop
    (median of 3) and /proc/loadavg. A run on a loaded shared host shows
    a slow canary and a high load average; a regression does not."""
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        reps.append(time.perf_counter() - t0)
    return {"canary_s": round(statistics.median(reps), 5),
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time by state (user, nice, system,
    idle, iowait, irq, softirq, steal) from /proc/stat; empty where
    there is none."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: on a shared host, the runs with a
    high share are the slow ones."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if len(d) == 8 and sum(d) > 0 else None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
