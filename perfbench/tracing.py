"""Traced-run tooling, all outside the program.

* :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory. In a traced run each span also tags the Spark jobs it starts
  with its own job group, and :meth:`Tracer.wrap` puts a span around a
  module's public function by replacing the module attribute.
* :func:`fold_event_log` reads Spark's event log (a rolling,
  zstd-compressed ``eventlog_v2_*`` directory by default in Spark 4)
  and folds jobs, stages and task metrics per job group.
* :meth:`Tracer.stats` sums the fold over a span and its descendants and
  adds the driver gap: the span's wall time minus the union of its jobs'
  wall times.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "job_intervals":
                self.job_intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


class Tracer:
    """Spans and job-group tags on the SparkContext ``sc``. Without an
    ``sc`` the tracer records nothing (the untraced runs)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.record = sc is not None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.record:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, time.time(), None, parent, op)
        self.spans.append(s)
        self._stack.append(s.id)
        prev = (
            self.sc.getLocalProperty("spark.jobGroup.id"),
            self.sc.getLocalProperty("spark.job.description"),
        )
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{s.id}")
        self.sc.setLocalProperty("spark.job.description", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a function that runs it in a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def descendants(self, span: Span) -> list[Span]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.id, []))
        return out

    def stats(self, span: Span, groups: dict[str, GroupStats]) -> tuple[GroupStats, float]:
        """Folded Spark metrics of ``span`` and its descendants, and its
        driver gap in seconds."""
        total = GroupStats()
        for s in self.descendants(span):
            g = groups.get(f"span-{s.id}")
            if g is not None:
                total.add(g)
        busy = _union_length(total.job_intervals, span.start, span.end)
        return total, (span.end - span.start) - busy

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _event_files(log_dir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            rolled = [f for f in os.listdir(path) if f.startswith("events_")]
            rolled.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            files.extend(os.path.join(path, f) for f in rolled)
        elif not entry.startswith("."):
            files.append(path)
    return files


def read_event_log(log_dir: str):
    """Yield the JSON events of every application log under ``log_dir``."""
    import pyarrow as pa

    for path in _event_files(log_dir):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as fh:
                data = fh.read()
        else:
            with open(path, "rb") as fh:
                data = fh.read()
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


def fold_events(events) -> dict[str, GroupStats]:
    """Per job group: jobs with their wall intervals, stages, and the sum
    of their tasks' metrics."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}

    def group(props) -> str | None:
        return (props or {}).get("spark.jobGroup.id")

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group(ev.get("Properties"))
            if g is not None:
                groups.setdefault(g, GroupStats()).jobs += 1
                job_start[ev["Job ID"]] = (g, ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(ev["Job ID"], None)
            if started is not None:
                g, t0 = started
                groups[g].job_intervals.append((t0, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            g = group(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                groups.setdefault(g, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            st = groups.setdefault(g, GroupStats())
            st.tasks += 1
            st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            im = m.get("Input Metrics") or {}
            st.input_bytes += im.get("Bytes Read", 0)
            st.input_records += im.get("Records Read", 0)
            om = m.get("Output Metrics") or {}
            st.output_bytes += om.get("Bytes Written", 0)
            st.output_records += om.get("Records Written", 0)
    return groups


def fold_event_log(log_dir: str) -> dict[str, GroupStats]:
    return fold_events(read_event_log(log_dir))
