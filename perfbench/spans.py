"""Spans, Spark status-store counters, process-tree CPU and host health.

Spans are recorded only in a traced run (``--trace 1``); an untraced
run pays one attribute check per span.  Each span runs under its own
Spark job group, so its jobs, stages, tasks and their executor
metrics can be read back from the application status store
(``sc._jsc.sc().statusStore()``), which fills with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- host health and process-tree CPU ------------------------------------

def _proc_stat_fields() -> tuple[list[int], int]:
    """(aggregate cpu jiffies, procs_running) from /proc/stat."""
    cpu, running = [], 0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                cpu = [int(x) for x in line.split()[1:]]
            elif line.startswith("procs_running"):
                running = int(line.split()[1])
    return cpu, running


class HostHealth:
    """CPU-steal share and the largest runnable-process count seen,
    sampled from /proc/stat at operation boundaries (no sampler
    thread).  Recorded next to every run and never used to correct or
    exclude one."""

    def __init__(self) -> None:
        self.cpu0, running = _proc_stat_fields()
        self.running_max = running

    def sample(self) -> None:
        self.running_max = max(self.running_max, _proc_stat_fields()[1])

    def metrics(self) -> dict[str, float]:
        cpu1, running = _proc_stat_fields()
        self.running_max = max(self.running_max, running)
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        # fields: user nice system idle iowait irq softirq steal guest ...
        total = sum(d[:8])
        steal = d[7] if len(d) > 7 else 0
        return {"host.steal_pct": 100.0 * steal / total if total else 0.0,
                "host.procs_running_max": float(self.running_max)}


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU seconds of ``root_pid`` and every live
    descendant, including the children each has already reaped
    (exited Python workers count through their parent's cutime)."""
    root = root_pid or os.getpid()
    parent, usage = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        usage[pid] = sum(int(x) for x in rest[11:15])
    total = 0
    for pid, ticks in usage.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
    return total / _CLK_TCK


# -- spans -----------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    groups: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes ``span`` a
    no-op, which is how the untraced (end-to-end) run measures; in a
    traced run, ``active`` switches spans off for single operations."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = self.active = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block, which runs under its own
        Spark job group (``collect_counters`` reads the group's jobs
        back later)."""
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), name, stack[-1].id if stack else None,
                 time.perf_counter())
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        s.groups.append(f"pb-{s.id}")
        sc.setJobGroup(s.groups[0], name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if prev is not None:
                sc.setJobGroup(prev, prev_desc or "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def add(self, name: str, start: float, end: float,
            parent: Span | None) -> None:
        """Record a span measured elsewhere (e.g. from a streaming
        progress event)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(next(self._ids), name,
                                       parent.id if parent else None,
                                       start, end))

    def collect_counters(self) -> None:
        """Read every span's job-group counters from the status stores.
        Called once after the measured window, so the reads add no
        time to any span."""
        for s in self.spans:
            for g in s.groups:
                for k, v in job_group_counters(self.spark, g).items():
                    s.counters[k] = s.counters.get(k, 0) + v

    def current(self) -> Span | None:
        """The innermost open span of this thread."""
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def attach_group(self, group: str) -> None:
        """Count the jobs of another job group (a streaming query's run
        id) under the innermost open span of this thread."""
        span = self.current()
        if span is not None:
            span.groups.append(group)

    def adopt(self, name: str, parents: list[Span]) -> None:
        """Make each parentless ``name`` span (recorded on another
        thread, such as a foreachBatch callback) the child of the
        parent whose interval holds it."""
        for s in self.named(name):
            if s.parent is None:
                for p in parents:
                    if p.start <= s.start and s.end <= p.end:
                        s.parent = p.id
                        break

    # -- roll-ups ------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the intervals its children
        cover."""
        ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                     for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def subtree_counters(self, span: Span) -> dict:
        """A span's own job-group counters plus its descendants'."""
        out = dict(span.counters)
        for c in self.children(span):
            for k, v in self.subtree_counters(c).items():
                out[k] = out.get(k, 0) + v
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- status-store counters -------------------------------------------------

_STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def job_group_counters(spark, group: str) -> dict:
    """Jobs, stages and per-stage executor metrics of one job group.
    Skipped stages (reused shuffle output) count as stages
    but carry no work."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    out = {"jobs": len(job_ids), "stages": 0}
    out.update({k: 0 for k in _STAGE_FIELDS})
    seen = set()
    for jid in job_ids:
        for sid in _seq(store.job(jid).stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            for sd in _seq(store.stageData(sid, False, None, False, None)):
                if sd.status().toString() == "SKIPPED":
                    continue
                for k, getter in _STAGE_FIELDS.items():
                    out[k] += int(getattr(sd, getter)())
    return out


def jvm_gc_ms(spark) -> int:
    """Cumulative collection time of the driver JVM (which is also the
    executor under ``local[N]``)."""
    beans = spark.sparkContext._jvm.java.lang.management \
        .ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)
