"""Spans, counters and the Spark event log: the benchmark's tracing layer.

Spans are recorded only by the benchmark's own code, around the calls it
makes into the program: a ``FlowReporter`` subclass names each flow action
after the module it belongs to, small wrappers time the storage, rdbm and
catalog calls, a py4j ``send_command`` counter counts round trips, and the
Spark event log (enabled in the traced session only) supplies the jobs,
stages and tasks each span caused, matched by job group.  Everything stays
in memory until the run ends.

A unit's wall time is split into layer *self* times on a timeline: each
instant of the unit is shared equally by the innermost spans open at that
instant, so the layer self times add up to the unit's wall time even when
actions overlap.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Optional

from waimak_spark.dataflow.executor import FlowReporter

#: the repository's modules, plus the engine underneath and the harness
LAYERS = ("dataflow", "operators", "dataquality", "storage", "rdbm",
          "functions", "spark", "bench")

#: action-name prefix -> layer (names from the program's action builders)
_ACTION_LAYERS = (
    ("intercept:", "operators"),
    ("commit", "operators"),
    ("manifest", "operators"),
    ("getOrCreateAuditTable", "storage"),
    ("writeToStorage", "storage"),
    ("snapshotFromStorage", "storage"),
    ("loadFromStorage", "storage"),
    ("extractFromRDBM", "rdbm"),
)


def action_layer(name: str) -> str:
    for prefix, layer in _ACTION_LAYERS:
        if name.startswith(prefix):
            return layer
    return "dataflow"


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: Optional["Span"] = None
    group: Optional[str] = None     # Spark job group of the work inside
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; every method is a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.units: list[Span] = []
        self._unit_stack: list = []     # the stack of the unit's own thread
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str, group: Optional[str] = None,
             **attrs) -> Optional[Span]:
        if not self.enabled:
            return None
        stack = self._stack()
        # a span opened on another thread (a flow action) nests under the
        # span the unit's thread is waiting in (the flow execution)
        owner = stack or self._unit_stack
        parent = owner[-1] if owner else None
        if group is None and parent is not None:
            group = parent.group
        s = Span(layer, name, time.time(), parent=parent, group=group,
                 attrs=attrs)
        stack.append(s)
        return s

    def close(self, s: Optional[Span]) -> None:
        if s is None:
            return
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        if s.parent is not None:
            with self._lock:
                s.parent.children.append(s)

    def annotate(self, **attrs) -> None:
        """Add attributes to this thread's innermost open span."""
        stack = self._stack() if self.enabled else None
        if stack:
            stack[-1].attrs.update(attrs)

    @contextmanager
    def span(self, layer: str, name: str, group: Optional[str] = None,
             **attrs):
        s = self.open(layer, name, group, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def unit(self, layer: str, name: str, **attrs):
        """Root span of one unit of work."""
        if not self.enabled:
            yield None
            return
        self._unit_stack = self._stack()
        s = self.open(layer, name, **attrs)
        try:
            yield s
        finally:
            self.close(s)
            self._unit_stack = []
            self.units.append(s)


class SpanReporter(FlowReporter):
    """Opens a span per flow action, named and layered by the action."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._open: dict[str, Span] = {}
        self._lock = threading.Lock()

    def action_started(self, action, flow) -> None:
        s = self.tracer.open(action_layer(action.name), action.name,
                             group=action.guid, kind="action",
                             inputs=list(action.input_labels),
                             outputs=list(action.output_labels),
                             tags=sorted(action.tags),
                             tag_deps=sorted(action.tag_dependencies))
        if s is not None:
            with self._lock:
                self._open[action.guid] = s

    def _finish(self, action, ok: bool) -> None:
        with self._lock:
            s = self._open.pop(action.guid, None)
        if s is not None:
            s.attrs["ok"] = ok
            self.tracer.close(s)

    def action_finished(self, action, flow) -> None:
        self._finish(action, True)

    def action_failed(self, action, error) -> None:
        self._finish(action, False)


class RoundTripCounter:
    """Counts py4j commands sent from this process (as tools/rt_sweep.py
    does); installed for the traced run only."""

    def __init__(self):
        self.count = 0
        self._lock = threading.Lock()
        self._saved: list = []

    def install(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def patched(conn, *a, _orig=orig, **kw):
                with self._lock:
                    self.count += 1
                return _orig(conn, *a, **kw)

            self._saved.append((cls, orig))
            cls.send_command = patched

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved = []


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    start: float
    end: float
    stages: list
    sql_id: Optional[int]


def parse_event_log(log_dir: str) -> dict:
    """Jobs, per-stage task metrics and SQL executions from the (single,
    uncompressed) event log of the session."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".inprogress")
             and not os.path.basename(p).startswith(("appstatus", "."))]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    jobs: dict[int, Job] = {}
    tasks: dict[int, list] = {}
    sql: dict[int, list] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0, 0.0,
                    list(ev.get("Stage IDs", [])),
                    int(sql_id) if sql_id is not None else None)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
                    "written": out.get("Bytes Written", 0),
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = [ev["time"] / 1000.0, None]
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]][1] = ev["time"] / 1000.0
    return {"jobs": [j for j in jobs.values() if j.end],
            "tasks": tasks,
            "sql": {k: v for k, v in sql.items() if v[1] is not None}}


def _walk(s: Span):
    yield s
    for c in s.children:
        yield from _walk(c)


def attach_jobs(unit: Span, jobs: list[Job]) -> list[Job]:
    """Hang each job that ran inside ``unit`` under the innermost span of
    the same job group that was open when the job was submitted (the unit
    itself when no span matches).  Returns the unit's jobs."""
    mine = []
    spans = list(_walk(unit))
    for j in jobs:
        if not (unit.start <= j.start <= unit.end):
            continue
        mine.append(j)
        best = unit
        for s in spans:
            if (s.group == j.group and s.start <= j.start <= s.end
                    and s.start >= best.start and s is not unit):
                best = s
        js = Span("spark", f"job:{j.job_id}", max(j.start, best.start),
                  min(j.end, best.end) if best.end else j.end, parent=best,
                  group=j.group, attrs={"job": j})
        best.children.append(js)
    return mine


def self_times(unit: Span) -> dict[str, float]:
    """Layer self times of ``unit``: every instant is split equally among
    the innermost spans open at that instant."""
    spans = [s for s in _walk(unit) if s.end > s.start]
    edges = sorted({t for s in spans for t in (s.start, s.end)
                    if unit.start <= t <= unit.end})
    out = {layer: 0.0 for layer in LAYERS}
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        open_ = [s for s in spans if s.start <= mid < s.end]
        inner = [s for s in open_
                 if not any(c.start <= mid < c.end for c in s.children)]
        for s in inner:
            out[s.layer] += (b - a) / len(inner)
    return out


def spans_named(unit: Span, prefix: str) -> list[Span]:
    return [s for s in _walk(unit) if s.name.startswith(prefix)]


def spans_in_layer(unit: Span, layer: str) -> list[Span]:
    return [s for s in _walk(unit)
            if s.layer == layer and not s.name.startswith("job:")]


def jobs_under(s: Span) -> list[Job]:
    return [c.attrs["job"] for c in _walk(s) if "job" in c.attrs]


def engine_metrics(jobs: list[Job], log: dict) -> dict[str, float]:
    """Totals for the given jobs: stage/task counts, task and GC seconds,
    shuffle and spill bytes, task skew, and SQL time no job covers."""
    stage_ids = {sid for j in jobs for sid in j.stages if sid in log["tasks"]}
    tasks = [t for sid in stage_ids for t in log["tasks"][sid]]
    skew = 1.0
    for sid in stage_ids:
        durs = [t["dur"] for t in log["tasks"][sid]]
        med = statistics.median(durs)
        if len(durs) > 1 and med > 0:
            skew = max(skew, max(durs) / med)
    gap = 0.0
    sql_ids = {j.sql_id for j in jobs if j.sql_id is not None}
    for sid in sql_ids:
        a, b = log["sql"].get(sid, (None, None))
        if a is None:
            continue
        covered = _union([(max(a, j.start), min(b, j.end)) for j in jobs
                          if j.sql_id == sid])
        gap += max(0.0, (b - a) - covered)
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "task_s": sum(t["run"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "written_bytes": sum(t["written"] for t in tasks),
        "task_skew": skew,
        "driver_gap_s": gap,
    }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def critical_path(actions: list[Span]) -> float:
    """Longest chain of dependent actions, weighted by action duration.
    An action depends on the producers of its input labels and on the
    actions carrying a tag it depends on."""
    producer = {lbl: a for a in actions for lbl in a.attrs.get("outputs", [])}
    by_tag: dict[str, list[Span]] = {}
    for a in actions:
        for t in a.attrs.get("tags", []):
            by_tag.setdefault(t, []).append(a)
    memo: dict[int, float] = {}

    def longest(a: Span) -> float:
        if id(a) not in memo:
            preds = [producer[lbl] for lbl in a.attrs.get("inputs", [])
                     if lbl in producer and producer[lbl] is not a]
            preds += [p for t in a.attrs.get("tag_deps", [])
                      for p in by_tag.get(t, []) if p is not a]
            memo[id(a)] = a.duration + max((longest(p) for p in preds),
                                           default=0.0)
        return memo[id(a)]

    return max((longest(a) for a in actions), default=0.0)


def ready_wait(actions: list[Span], flow_start: float) -> float:
    """Sum over actions of start time minus the time the last of its
    input labels was produced (flow start for actions without inputs)."""
    produced = {lbl: a.end for a in actions for lbl in a.attrs.get("outputs", [])}
    total = 0.0
    for a in actions:
        ready = max((produced[lbl] for lbl in a.attrs.get("inputs", [])
                     if lbl in produced), default=flow_start)
        total += max(0.0, a.start - ready)
    return total


def summarise(values: list[Any]) -> float:
    """Per-unit mean of a metric over the traced units."""
    return float(sum(values)) / len(values) if values else 0.0


def write_spans(path: str, units: list[Span]) -> None:
    """Write every span of every traced unit as one JSON line each."""
    ids: dict[int, int] = {}
    with open(path, "w") as fh:
        for u in units:
            for s in _walk(u):
                ids[id(s)] = len(ids)
                fh.write(json.dumps({
                    "id": ids[id(s)],
                    "parent": ids.get(id(s.parent)) if s.parent else None,
                    "layer": s.layer, "name": s.name,
                    "start": s.start, "end": s.end, "group": s.group,
                    "attrs": {k: v for k, v in s.attrs.items() if k != "job"},
                }) + "\n")
