"""Outside-in tracing: spans around calls into the engine's layers, and
Spark counters diffed from the application status store around each span.

Spans are kept in memory and written once, when the benchmark ends.
Counters come from stage-level data (executorRunTime, jvmGcTime,
shuffle, spill, task counts) of the jobs a span started. Executor-level
totals are not used: in local mode ``ExecutorSummary.totalDuration``
reads wall-clock time, not task time.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "perfbench"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of that
    interval its direct children cover (overlapping children counted
    once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[i] = s.wall - covered
    return out


class StageCounters:
    """Sums stage metrics of the jobs run under the benchmark's job group."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "gc_s",
              "shuffle_write_mb", "spill_mb", "output_mb")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sc.setJobGroup(JOB_GROUP, "perfbench")
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen: set[int] = set(self.sc.statusTracker().getJobIdsForGroup(JOB_GROUP))

    def _stage(self, stage_id: int):
        gw = self.sc._gateway
        return self._store.stageData(
            stage_id, False, gw.jvm.java.util.ArrayList(), False,
            gw.new_array(gw.jvm.double, 0))

    def take(self) -> dict:
        """Counters of every job finished since the previous call."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(JOB_GROUP) if j not in self._seen]
        self._seen.update(jobs)
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                attempts = self._stage(sid)
                for k in range(attempts.size()):
                    a = attempts.apply(k)
                    if a.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += a.numCompleteTasks() + a.numFailedTasks()
                    out["failed_tasks"] += a.numFailedTasks()
                    out["run_s"] += a.executorRunTime() / 1000.0
                    out["gc_s"] += a.jvmGcTime() / 1000.0
                    out["shuffle_write_mb"] += a.shuffleWriteBytes() / 1e6
                    out["spill_mb"] += (a.memoryBytesSpilled() + a.diskBytesSpilled()) / 1e6
                    out["output_mb"] += a.outputBytes() / 1e6
        return out


class Tracer:
    """Records spans; with ``spark`` set, attaches stage counters to each.

    A disabled tracer (``enabled=False``) only runs the body, so the
    untraced run pays nothing for it.
    """

    def __init__(self, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._counters: StageCounters | None = None
        self.op: int | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            self._counters = StageCounters(spark)
            self.overhead_s += time.perf_counter() - t0

    def _charge(self) -> None:
        """Attribute jobs finished since the last call to every open span."""
        if self._counters is None:
            return
        got = self._counters.take()
        for i in self._stack:
            c = self.spans[i].counters
            for k, v in got.items():
                c[k] = c.get(k, 0.0) + v

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._charge()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent=parent, op=self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            t1 = time.perf_counter()
            self._charge()
            self._stack.pop()
            if s.counters:
                s.counters["core_busy_frac"] = (
                    s.counters["run_s"] / (s.wall * self.cores) if s.wall > 0 else 0.0)
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def paused(self):
        """Run the body untraced (set-up and warm-up work)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def layer_shims(self, layers: dict, materialize, calls: list):
        """Within the block, the outermost call into a public function of
        each module in ``layers`` (layer name -> module) runs in a span
        named after its layer, and ``materialize`` forces what it returned
        inside that span. Each ``(function name, result)`` is appended to
        ``calls``. Calls a layer function makes into another run as they
        are, so the caller's own wiring is what gets traced."""
        depth = 0

        def shim(layer, fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                nonlocal depth
                if depth:
                    return fn(*args, **kwargs)
                depth += 1
                try:
                    with self.span(layer):
                        out = fn(*args, **kwargs)
                        materialize(out)
                finally:
                    depth -= 1
                calls.append((fn.__name__, out))
                return out
            return wrapper

        saved = []
        for layer, mod in layers.items():
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ == mod.__name__ and not name.startswith("_"):
                    saved.append((mod, name, fn))
                    setattr(mod, name, shim(layer, fn))
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def operations(self) -> list[Span]:
        """Root spans with children: one traced operation each."""
        parents = {s.parent for s in self.spans}
        return [s for i, s in enumerate(self.spans) if s.parent is None and i in parents]

    def remainder(self) -> dict[str, float]:
        """Unattributed time per operation name: the self time of each
        operation's root span (wall time no layer span covers)."""
        st = self_times(self.spans)
        parents = {s.parent for s in self.spans}
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.parent is None and i in parents:
                out[s.name] = out.get(s.name, 0.0) + st[i]
        return out

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        rows = [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, "self_s": st[i], "counters": s.counters}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "tracing_overhead_s": self.overhead_s}, fh)
