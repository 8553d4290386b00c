"""Spans, Spark job accounting and the event-log reducer for traced runs.

A span is recorded by the benchmark around a call into one public function
of the package (name, start, end, parent, run id). Each open span owns a
unique Spark job group, so every job the call starts can be attributed to
it afterwards: job, stage and task counts come from ``statusTracker``,
executor run/CPU/GC time and shuffle bytes from the Spark event log.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str
    iteration: int
    counts: dict = field(default_factory=dict)  # Spark jobs/stages/tasks
    values: dict = field(default_factory=dict)  # layer values the span saw


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct children
    cover (children are merged first, so overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(kids.get(s.sid, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = (s.end - s.start) - covered
    return out


def descendants(spans: list[Span], sid: int) -> list[Span]:
    """The span ``sid`` and every span below it."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    root = next(s for s in spans if s.sid == sid)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.sid, []))
    return out


class Tracer:
    """In-memory span recorder. With ``sc`` set, each span runs under its own
    Spark job group and the previous group is restored on exit; with
    ``sc=None`` (untraced runs, unit tests) only the timestamps are kept."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self.iteration = 0
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{self.run_id}-{sid}"
        s = Span(sid, name, 0.0, 0.0, parent.sid if parent else None,
                 self.run_id, group, self.iteration)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def collect_counts(self) -> None:
        """Fill each span's own (self) job/stage/task counts from the status
        tracker. Call before the tracker evicts old jobs, i.e. once per
        iteration."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.counts:
                continue
            jobs = stages = tasks = failures = 0
            for jid in st.getJobIdsForGroup(s.group):
                jobs += 1
                info = st.getJobInfo(jid)
                for stage_id in info.stageIds if info else ():
                    si = st.getStageInfo(stage_id)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped (shuffle reuse) or evicted
                    stages += 1
                    tasks += si.numCompletedTasks
                    failures += si.numFailedTasks
            s.counts = {"jobs": jobs, "stages": stages, "tasks": tasks,
                        "task_failures": failures}

    def dump(self, path: Path) -> None:
        selfs = self_times(self.spans)
        rows = [{**asdict(s), "self_s": selfs[s.sid]} for s in self.spans]
        path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def reduce_event_log(lines) -> dict[str, dict[str, float]]:
    """Per job group totals of task metrics from Spark event-log lines
    (uncompressed JSON, one event per line): executor run and CPU seconds,
    JVM GC seconds and shuffle bytes written. A stage belongs to the group
    its StageSubmitted properties name; tasks of stages without a group
    are summed under ``""``."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_group[key] = props.get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            acc = out.setdefault(
                stage_group.get(key, ""),
                {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_bytes": 0, "tasks": 0},
            )
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["tasks"] += 1
    return out


def reduce_event_log_dir(log_dir: Path) -> dict[str, dict[str, float]]:
    """Reduce every event-log file in ``log_dir`` (one per SparkContext)."""
    total: dict[str, dict[str, float]] = {}
    for p in sorted(log_dir.iterdir()) if log_dir.is_dir() else ():
        with p.open() as f:
            for group, acc in reduce_event_log(f).items():
                dst = total.setdefault(group, dict.fromkeys(acc, 0))
                for k, v in acc.items():
                    dst[k] += v
    return total
