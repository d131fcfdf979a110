"""In-memory spans around calls into the pipeline's layers.

A span records its name, start, end and parent, plus what the layer did
while it was open:

* jobs and tasks, from ``setJobGroup`` and ``statusTracker`` (works with
  the Spark UI off). Jobs that threads inside the program submit carry no
  group; new ungrouped jobs are charged to the innermost open span.
* CPU seconds of the JVM and its Python workers, from /proc.
* samples of the number of running tasks, taken by a background thread,
  so a span knows the share of its time the cluster sat idle while the
  driver worked.

Spans stay in memory; ``to_records`` gives them to the caller to write out
when the run ends.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable

FIELDS = ("wall_s", "self_s", "jobs", "tasks", "rows_out", "busy_cores",
          "driver_idle_share")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rows_out: int = 0
    cpu_s: float = 0.0
    samples: int = 0
    idle_samples: int = 0
    job_ids: list[int] = field(default_factory=list)
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall time minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.wall - covered)
    return out


def inclusive(spans: list[Span], values: list[float]) -> list[float]:
    """Per span: its own value plus those of all its descendants."""
    total = list(values)
    # a child is always recorded after its parent
    for i in range(len(spans) - 1, -1, -1):
        p = spans[i].parent
        if p is not None:
            total[p] += total[i]
    return total


def layer_metrics(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Aggregate spans by name into the seven per-layer fields."""
    selfs = self_times(spans)
    jobs = inclusive(spans, [len(s.job_ids) for s in spans])
    tasks = inclusive(spans, [s.tasks for s in spans])
    acc: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        a = acc.setdefault(s.name, dict.fromkeys(
            ("wall_s", "self_s", "jobs", "tasks", "rows_out", "cpu_s",
             "samples", "idle_samples"), 0))
        a["wall_s"] += s.wall
        a["self_s"] += selfs[i]
        a["jobs"] += jobs[i]
        a["tasks"] += tasks[i]
        a["rows_out"] += s.rows_out
        a["cpu_s"] += s.cpu_s
        a["samples"] += s.samples
        a["idle_samples"] += s.idle_samples
    out = {}
    for name, a in acc.items():
        out[name] = {
            "wall_s": a["wall_s"], "self_s": a["self_s"],
            "jobs": a["jobs"], "tasks": a["tasks"],
            "rows_out": a["rows_out"],
            "busy_cores": a["cpu_s"] / a["wall_s"] if a["wall_s"] else 0.0,
            "driver_idle_share": (a["idle_samples"] / a["samples"]
                                  if a["samples"] else 0.0),
        }
    return out


class Tracer:
    """Records spans of one traced run. ``cpu_seconds`` returns the CPU
    time used so far by the processes doing the work."""

    def __init__(self, sc, cpu_seconds: Callable[[], float],
                 sample_every_s: float = 0.1):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._cpu = cpu_seconds
        self._every = sample_every_s
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._seen_ungrouped = set(self._tracker.getJobIdsForGroup(None))
        # a stage skipped in a later job keeps the task counts of its run
        self._counted_stages: set[int] = set()
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None

    # -- sampling ---------------------------------------------------------
    def _running_tasks(self) -> int:
        n = 0
        for sid in self._tracker.getActiveStageIds():
            info = self._tracker.getStageInfo(sid)
            if info is not None:
                n += info.numActiveTasks
        return n

    def _sample(self) -> None:
        idle = self._running_tasks() == 0
        with self._lock:
            for i in self._stack:
                self.spans[i].samples += 1
                self.spans[i].idle_samples += idle

    def _sample_loop(self) -> None:
        while not self._stop.wait(self._every):
            self._sample()

    def __enter__(self) -> "Tracer":
        self._sampler = threading.Thread(target=self._sample_loop,
                                         name="span-sampler", daemon=True)
        self._sampler.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._sampler.join(timeout=10)

    # -- spans ------------------------------------------------------------
    def _group(self, idx: int) -> str:
        return f"perfbench-span-{idx}"

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            s = Span(name=name, start=time.perf_counter(), parent=parent)
            self.spans.append(s)
            self._stack.append(idx)
        self._sc.setJobGroup(self._group(idx), name)
        cpu0 = self._cpu()
        self._sample()
        try:
            yield s
        finally:
            self._sample()
            s.end = time.perf_counter()
            s.cpu_s = self._cpu() - cpu0
            with self._lock:
                self._stack.pop()
            self._collect_jobs(idx, s)
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(self._group(parent),
                                     self.spans[parent].name)

    def _collect_jobs(self, idx: int, s: Span) -> None:
        jobs = set(self._tracker.getJobIdsForGroup(self._group(idx)))
        ungrouped = set(self._tracker.getJobIdsForGroup(None))
        jobs |= ungrouped - self._seen_ungrouped
        self._seen_ungrouped |= ungrouped
        stages = set()
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        stages -= self._counted_stages
        self._counted_stages |= stages
        tasks = 0
        for sid in stages:
            info = self._tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        s.job_ids = sorted(jobs)
        s.stage_ids = sorted(stages)
        s.tasks = tasks

    def to_records(self) -> list[dict]:
        return [asdict(s) | {"self_s": st}
                for s, st in zip(self.spans, self_times(self.spans))]
