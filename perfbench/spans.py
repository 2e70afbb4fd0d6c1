"""Spans, Spark event-log attribution and /proc readers for the benchmark.

Spans are recorded in the benchmark's own code around each call into a
``pagerank_spark`` module; nothing inside the package is instrumented.
Each span sets the Spark job group, so the event log (enabled only in the
traced run) attributes every job, task, shuffle byte and GC millisecond to
the innermost span that was open when the job started.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pagerank_spark.plans.checkpoint import SuperstepCheckpointer


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """Yields the open Span (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent)
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        """Record a span synthesized from other spans' timings."""
        s = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(s)
        return s

    def _set_group(self, s: Span) -> None:
        self.spark.sparkContext.setJobGroup(f"{s.id}:{s.name}", s.name)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = max(edge, hi)
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


class TimedCheckpointer(SuperstepCheckpointer):
    """A SuperstepCheckpointer that records ``save``/``record`` spans and the
    in-memory or on-disk size of each committed superstep."""

    def __init__(self, spark, directory: str | None, tracer: Tracer):
        super().__init__(spark, directory)
        self.tracer = tracer
        self.events: list[tuple[int, str, Span, int]] = []  # (iteration, kind, span, bytes)

    def save(self, iteration, ranks):
        before = 0 if self.dir else _cached_bytes(self.spark)
        with self.tracer.span("checkpoint.save") as s:
            out = super().save(iteration, ranks)
        size = (_dir_bytes(self._iter_path(iteration)) if self.dir
                else _cached_bytes(self.spark) - before)
        self.events.append((iteration, "save", s, size))
        return out

    def record(self, iteration, ranks, **metric):
        with self.tracer.span("checkpoint.record") as s:
            row = super().record(iteration, ranks, **metric)
        self.events.append((iteration, "record", s, 0))
        return row

    def supersteps(self, parent: Span) -> list[tuple[float, float]]:
        """(superstep ms, gap ms) per superstep of one pagerank call.

        Superstep k runs from the end of the previous checkpoint event (the
        save of superstep 0 or the record of k-1) to the end of record(k);
        its gap is that interval minus its own save and record. The first
        superstep after a resume has no observable start and is skipped.
        The superstep spans are added to the trace and become the parents
        of their save/record spans."""
        out, prev_end, save = [], None, None
        for it, kind, s, _ in self.events:
            if s.parent != parent.id:
                continue
            if kind == "save":
                save = s
                if it == 0:
                    prev_end = s.end
            elif prev_end is not None and save is not None:
                step = self.tracer.add("pagerank.superstep", prev_end, s.end, parent.id)
                save.parent = s.parent = step.id
                busy = (save.end - save.start) + (s.end - s.start)
                out.append(((s.end - prev_end) * 1e3, (s.end - prev_end - busy) * 1e3))
                prev_end, save = s.end, None
            else:
                prev_end, save = s.end, None
        return out


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*"))
               if os.path.isfile(p))


# -- Spark event log ------------------------------------------------------------


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, failed tasks, shuffle write, spill, GC."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, {"jobs": 0, "tasks": 0, "failed_tasks": 0,
                                      "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                                      "gc_ms": 0.0})

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev.get("Stage ID"), "-"))
                    b["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    b["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
                    b["gc_ms"] += m.get("JVM GC Time", 0)
    return out


# -- /proc ----------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """user+sys CPU seconds of ``root_pid`` and all live descendants,
    including the reaped children each of them has waited for."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we walked
        pid = int(d)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / _TICK
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(kids.get(pid, []))
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already included in user/nice
    return sum(vals[:8]), vals[7]


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    dt = t1[0] - t0[0]
    return 100.0 * (t1[1] - t0[1]) / dt if dt > 0 else 0.0
