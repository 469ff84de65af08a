"""Tracing from the benchmark's own files: spans around calls into the
program's layers, with Spark job/task counts from the status tracker and
task CPU / shuffle bytes from the event log. Nothing here reaches inside the
program; every span boundary is a call the benchmark makes (or a wrapper it
installs around a module attribute for the duration of a traced pass)."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    # (args, result) of each wrapped call, for counting after the pass
    calls: list = field(default_factory=list, repr=False)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


def subtree(span: Span, spans: list[Span]) -> list[Span]:
    out, todo = [], [span.id]
    while todo:
        sid = todo.pop()
        for s in spans:
            if s.id == sid:
                out.append(s)
            if s.parent == sid:
                todo.append(s.id)
    return out


def parse_event_log(lines) -> dict[str, dict]:
    """Spark event-log JSON lines -> {job group: {tasks, task_cpu_s,
    shuffle_write_bytes}}. Tasks are attributed to the job group in the
    properties of the stage submission they ran under."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            agg = out.setdefault(group, {"tasks": 0, "task_cpu_s": 0.0, "shuffle_write_bytes": 0})
            agg["tasks"] += 1
            agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return out


class Tracer:
    """Spans held in memory; each span runs its Spark jobs under its own job
    group, so jobs, tasks, CPU and shuffle bytes attribute to the innermost
    open span of the calling thread."""

    def __init__(self, sc, workload: str, seed: int):
        self.sc, self.workload, self.seed = sc, workload, seed
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb{len(self.spans)}", name, parent.id if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:  # None while the session itself starts
            self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None and parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            elif self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str):
        """Replace module.attr (a function returning a DataFrame) by a
        spanned version; returns an undo callable. The result is persisted
        and counted inside the span, so the layer's lazy plan runs where it
        is timed."""
        orig = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name) as sp:
                out = orig(*a, **kw).persist()
                out.count()
                sp.calls.append((a, out))
            return out

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)

    def collect_status(self) -> None:
        """Jobs and completed tasks per span from the status tracker. Jobs
        are walked in submission order and each stage is counted under the
        first job that lists it: a later job that reuses (skips) the stage
        ran none of its tasks."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # internal API; fall back to a pause
            time.sleep(1.0)
        st = self.sc.statusTracker()
        owner = {}
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.id)
            sp.counts["spark_jobs"] = len(jobs)
            sp.counts["spark_tasks"] = 0
            owner.update((j, sp) for j in jobs)
        seen = set()
        for jid in sorted(owner):
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                si = st.getStageInfo(sid)
                owner[jid].counts["spark_tasks"] += si.numCompletedTasks if si else 0

    def attach_event_log(self, per_group: dict[str, dict]) -> None:
        for sp in self.spans:
            agg = per_group.get(sp.id, {})
            sp.counts["task_cpu_s"] = agg.get("task_cpu_s", 0.0)
            sp.counts["shuffle_write_mb"] = agg.get("shuffle_write_bytes", 0) / 2**20

    def inclusive(self, sp: Span, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in subtree(sp, self.spans))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": self_time(s, self.spans), "counts": s.counts,
             "workload": self.workload, "seed": self.seed}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def read_event_log(directory: str):
    """Yield every event line of the (non-rolling) logs in `directory`; a
    traced run's log is 100+ MB, so it is streamed, not held."""
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as f:
            yield from (line for line in f if line.strip())
