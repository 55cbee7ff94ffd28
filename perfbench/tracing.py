"""Traced-run recorder: spans around calls into the program's public
functions, Spark job attribution through job groups, and the event-log
and Catalyst readings that turn into per-layer metrics.

Spans live in memory and are written out once at the end of the run.
Every span sets ``SparkContext.setJobGroup(span_id)`` while it is open,
so each job the event log records names the span that launched it.
Jobs that the streaming engine launches on its own thread carry the
streaming query's run id as their group instead.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    touches no Spark state, so untraced passes pay nothing for it."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}/{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            start=time.time(),
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced if self.enabled else fn

    def add(self, name: str, start: float, end: float, parent: str | None, **attrs) -> Span:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        s = Span(f"{self.run_id}/{len(self.spans)}", name, parent, start, end,
                 self.run_id, dict(attrs))
        self.spans.append(s)
        return s

    def phases(self, span: Span | None, df) -> None:
        """Catalyst phase times (ms) of ``df``'s QueryExecution, added to
        ``span``. Forces planning of the frame's own QueryExecution; a
        collect of the same frame reuses it, a write plans an equal plan
        again, so that cost shows up in the trace overhead, not in the
        layer figures."""
        if span is None:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        _add_phases(span, qe.tracker().phases())

    def stream_phases(self, span: Span | None, query) -> None:
        """Catalyst phases of a streaming query's last micro-batch."""
        if span is None:
            return
        ex = query._jsq.streamingQuery().lastExecution()
        if ex is not None:
            _add_phases(span, ex.tracker().phases())

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _add_phases(span: Span, phases) -> None:
    for p in PHASES:
        if phases.contains(p):
            key = f"{p}_ms"
            span.attrs[key] = span.attrs.get(key, 0) + int(phases.apply(p).durationMs())


def jvm_gc_s(spark) -> float:
    """Total GC time of the JVM (driver and executors share it in
    local mode), in seconds."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# --- event log ----------------------------------------------------------------


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    records_read: int = 0
    shuffle_write_bytes: int = 0
    python_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in asdict(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: Path) -> dict[str, JobStats]:
    """Jobs, stages, tasks and task metrics per job group, summed from the
    (closed) event log in ``log_dir``. Jobs of a streaming query carry the
    query's run id as their group."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    by_group: dict[str, JobStats] = defaultdict(JobStats)
    with files[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                by_group[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    by_group[stage_group[sid]].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                st = by_group[group]
                st.tasks += 1
                info = ev.get("Task Info", {})
                if info.get("Failed") or info.get("Killed"):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in (PY_SENT, PY_RECV):
                        st.python_bytes += int(acc.get("Update", 0) or 0)
    return dict(by_group)


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """Every span below ``root``."""
    kids: dict[str | None, list[Span]] = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    out, todo = [], list(kids.get(root.id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def span_stats(spans: list[Span], by_group: dict[str, JobStats], root: Span) -> JobStats:
    """Jobs launched under ``root`` or any span below it. A span may name
    one more job group in ``attrs["job_group"]`` (a streaming query's run
    id, whose jobs run on the engine's own thread)."""
    total = JobStats()
    for s in [root, *descendants(spans, root)]:
        for g in (s.id, s.attrs.get("job_group")):
            if g in by_group:
                total.add(by_group[g])
    return total
