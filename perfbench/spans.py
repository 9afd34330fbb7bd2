"""Out-of-process-style tracing of sema_spark layers, from the outside.

Each layer entry point is wrapped where its caller looks it up (the
module global the caller resolves at call time), so ``sema_spark``
itself is never edited.  A wrapper records a span (name, start, end,
parent) and runs the call under its own Spark job group, so every job
a span launches can be attributed to it afterwards through the status
store:

    statusTracker().getJobIdsForGroup(group) → getJobInfo(j).stageIds
    → statusStore().lastStageAttempt(stage)

Spans stay in memory; :meth:`Tracer.spark_metrics` reads the store once
the run is over.  With ``enabled=False`` the tracer installs nothing and
``span`` only times.  Outermost spans also record the CPU time of the
whole process tree.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system CPU time of this process tree — the Python driver,
    the JVM and its Python workers — including reaped children.  Unlike
    wall time it does not grow while the hypervisor steals the CPUs."""
    total = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK


@dataclass
class Span:
    name: str
    group: str
    parent: Span | None
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def cpu_seconds(self) -> float:
        """Process-tree CPU time spent in the span (top-level spans only)."""
        return self.cpu_end - self.cpu_start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping itself

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{next(self._ids)}-{name}", parent, t0)
        if self.enabled:
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s)
            self._stack.append(s)
            self.spark.sparkContext.setJobGroup(s.group, name)
        if parent is None or not self.enabled:
            s.cpu_start = tree_cpu_seconds()
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if parent is None or not self.enabled:
                s.cpu_end = tree_cpu_seconds()
            if self.enabled:
                self._stack.pop()
                sc = self.spark.sparkContext
                if self._stack:
                    sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, module, attr: str, name: str, only_under: str | None = None) -> None:
        """Replace ``module.attr`` by a span-recording wrapper.  With
        ``only_under``, the call is traced only when the innermost open
        span has that name (so a helper shared by several stages is
        attributed to the one whose caller it is)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            if only_under is not None and (not self._stack or self._stack[-1].name != only_under):
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ reads
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def _groups(self, span: Span):
        yield span.group
        for c in span.children:
            yield from self._groups(c)

    def job_count(self, spans: list[Span]) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for s in spans for g in self._groups(s))

    def spark_metrics(self, name: str, cores: int) -> dict[str, float]:
        """Executor metrics of every job launched inside spans ``name``
        (their child spans included)."""
        spans = self.named(name)
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stage_ids = set()
        for s in spans:
            for g in self._groups(s):
                for j in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stage_ids.update(info.stageIds)
        tasks = cpu_ns = run_ms = shuffle_b = spill_b = 0
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never ran
                continue
            tasks += sd.numTasks()
            cpu_ns += sd.executorCpuTime()
            run_ms += sd.executorRunTime()
            shuffle_b += sd.shuffleWriteBytes()
            spill_b += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        wall = sum(s.seconds for s in spans)
        run_s = run_ms / 1e3
        return {
            "tasks": tasks,
            "executor_cpu_s": cpu_ns / 1e9,
            "cpu_ratio": (cpu_ns / 1e9) / run_s if run_s else 0.0,
            "slot_util": run_s / (wall * cores) if wall else 0.0,
            "shuffle_write_mb": shuffle_b / 2**20,
            "spill_mb": spill_b / 2**20,
        }
