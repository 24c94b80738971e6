"""Spans and Spark counters for the traced run.

A span is recorded around every call from the benchmark into a layer
(``api``, ``operators``, ``functions``, ``streaming``, ``store``) and around
calls the layers make into each other: ``install`` wraps the public
functions of those modules from outside, so the program itself is not
changed. Each op runs under its own Spark job group; Spark's status
tracker gives its jobs and tasks, the frames the operator layer returned
give planning time, and the event log (enabled only in the traced run)
gives each job's time span, shuffle bytes and records read. Spans stay in
memory and are written out once, at exit.

The untraced run uses ``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# module path -> functions wrapped in the traced run
WRAPPED = {
    "akka_graph_db_spark.operators.scan": ("get_node", "get_edge", "get_nodes"),
    "akka_graph_db_spark.operators.traverse": (
        "egress_edges", "ingress_edges", "paths_to"),
    "akka_graph_db_spark.operators.crud": (
        "add_nodes", "add_edges", "update_nodes", "update_edges",
        "remove_nodes_by_id", "remove_edges_by_id"),
    "akka_graph_db_spark.store": (
        "save_snapshot", "load_snapshot", "save_delta", "compact",
        "delta_from_graphs"),
}
_PLAN_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float  # seconds since the epoch
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None


@dataclass
class OpRecord:
    op: int
    name: str
    group: str
    frames: list = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    plan_ms: float = 0.0
    rows: int = 0  # rows a lookup returned, set by the client


class NullTracer:
    enabled = False

    def op(self, name: str):
        return contextlib.nullcontext()

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[int] = []
        self._current: OpRecord | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op = self._current.op if self._current else None
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextlib.contextmanager
    def op(self, name: str):
        """One client request: its own span and its own Spark job group."""
        rec = OpRecord(len(self.ops), name, f"perfbench-op-{len(self.ops)}")
        self.ops.append(rec)
        self._current = rec
        self._sc.setJobGroup(rec.group, name)
        try:
            with self.span(name):
                yield
        finally:
            self._sc._jsc.clearJobGroup()
            self._current = None

    def _wrap(self, qualname: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(qualname):
                out = fn(*args, **kwargs)
            if isinstance(out, DataFrame) and self._current is not None:
                self._current.frames.append(out)
            return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, names in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            short = mod_name.removeprefix("akka_graph_db_spark.")
            for n in names:
                orig = getattr(mod, n)
                self._restore.append((mod, n, orig))
                setattr(mod, n, self._wrap(f"{short}.{n}", orig))

    def uninstall(self) -> None:
        for mod, n, orig in reversed(self._restore):
            setattr(mod, n, orig)
        self._restore.clear()

    # -- counters read from Spark after the run ---------------------------

    def read_counters(self) -> None:
        """Jobs, tasks (status tracker) and planning time (each returned
        frame's QueryExecution tracker) per op. Call before Spark stops."""
        with contextlib.suppress(Exception):
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for rec in self.ops:
            for jid in st.getJobIdsForGroup(rec.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                rec.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        rec.tasks += stage.numCompletedTasks
            for df in rec.frames:
                phases = df._jdf.queryExecution().tracker().phases()
                for p in _PLAN_PHASES:
                    o = phases.get(p)
                    if o.isDefined():
                        rec.plan_ms += o.get().durationMs()
            rec.frames.clear()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "spans": [s.__dict__ for s in self.spans],
                "ops": [
                    {k: v for k, v in r.__dict__.items() if k != "frames"}
                    for r in self.ops
                ],
                **extra,
            }, f)


@dataclass
class EventLog:
    """What the Spark event log says about each op's job group."""

    jobs: list[tuple[str, float, float]]  # (group, start s, end s)
    shuffle_bytes: dict[str, int]  # group -> shuffle bytes written
    records_read: dict[str, int]  # group -> input records read


def read_event_log(log_dir: str) -> EventLog:
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    jobs: list[tuple[str, float, float]] = []
    shuffle: dict[str, int] = defaultdict(int)
    records: dict[str, int] = defaultdict(int)
    # Spark 4 writes a rolling log: a directory of numbered event files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        jobs.append((job_group[jid], job_start[jid],
                                     ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group:
                        shuffle[group] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        records[group] += (m.get("Input Metrics") or {}).get(
                            "Records Read", 0)
    return EventLog(jobs, dict(shuffle), dict(records))


def self_times(tracer: Tracer, log: EventLog) -> dict[str, float]:
    """Self seconds per layer over the timed ops: each span's duration
    minus the part of it its children cover. Spark jobs are children of
    the deepest span of their op that was open when they were submitted."""
    spans = [(s.name, s.start, s.end, s.parent, s.op) for s in tracer.spans]
    group_op = {r.group: r.op for r in tracer.ops}
    by_op: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s[4] is not None:
            by_op[s[4]].append(i)
    for group, start, end in log.jobs:
        op = group_op.get(group)
        if op is None:
            continue
        # event-log times are whole milliseconds
        parent = max(
            (i for i in by_op[op]
             if spans[i][1] - 1e-3 <= start <= spans[i][2] + 1e-3),
            key=lambda i: spans[i][1], default=by_op[op][0],
        )
        spans.append(("spark.job", start, end, parent, op))
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for name, start, end, parent, _ in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: dict[str, float] = defaultdict(float)
    for i, (name, start, end, _, op) in enumerate(spans):
        if op is None:  # set-up, outside the timed ops
            continue
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, ())):
            a, b = max(a, start), min(b, end)
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
        out[layer_of(name)] += max(0.0, (end - start) - covered)
    return dict(out)


def layer_of(span_name: str) -> str:
    """``operators.scan.get_node`` -> ``operators``; ``spark.job`` -> ``spark``."""
    return span_name.split(".", 1)[0]
