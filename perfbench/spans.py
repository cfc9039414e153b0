"""Spans, job attribution and the reducer that turns them into
per-layer metrics.

A :class:`Tracer` keeps spans in memory. Each span carries a layer
name (one of :data:`LAYERS`), its parent and the op it belongs to.
While a span is innermost, its id is the Spark job group, so every job
the engine launches belongs to exactly one span. The group is pushed
to the JVM lazily, just before the next py4j command, because a job
can only start from a py4j command; a span that never talks to the
JVM costs no extra round trip.

:func:`instrument` wraps the public functions of the engine's layer
packages and the ``Warehouse`` methods in spans. :func:`reduce` joins
the spans with a Spark event log into per-layer metrics. Both are used
only by the traced run; the untraced run holds a disabled tracer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import pkgutil
import sys
import time
import types
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

# Engine packages wrapped by ``instrument``; each is its own layer.
PACKAGE_LAYERS = ("ops", "llm", "models", "streaming", "sources", "pipelines")
LAYERS = ("bench", "session", "parity_queries", *PACKAGE_LAYERS,
          "warehouse", "spark_action")
LAYER_METRICS = ("calls", "self_s", "jobs", "stages", "tasks",
                 "failed_tasks", "task_s", "driver_gap_s",
                 "shuffle_write_bytes", "py4j_calls")
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    py4j: int = 0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _op: int | None = None
    _jsc: object = None
    _pushed: str | None = None
    _in_hook: bool = False
    enabled: bool = True

    def enable(self, on: bool) -> None:
        """Start or pause recording; a paused tracer clears the job group."""
        self.enabled = on
        if not on and self._pushed is not None:
            self._push(None)

    def _push(self, group: str | None) -> None:
        self._in_hook = True
        try:
            self._jsc.setLocalProperty(GROUP_KEY, group)
        finally:
            self._in_hook = False
        self._pushed = group

    def span(self, name: str, layer: str, op: int | None = None):
        """Record one span. ``op`` starts a new op: this span is its root."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, op)

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, op: int | None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        outer_op = self._op
        if op is not None:
            self._op = op
        s = Span(len(self.spans) + 1, name, layer, time.time(),
                 parent=parent.sid if parent else None, op=self._op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._op = outer_op

    def wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self._span(name, layer, None):
                return fn(*args, **kwargs)
        return traced

    def attach(self, spark) -> None:
        """Count py4j commands per innermost span and push its job group."""
        sc = spark.sparkContext
        self._jsc = sc._jsc
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.enabled and not self._in_hook:
                top = self._stack[-1] if self._stack else None
                want = str(top.sid) if top else None
                if want != self._pushed:
                    self._push(want)
                if top is not None:
                    top.py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's layer functions in spans.

    Module attributes are replaced, and so are the references other
    engine modules took with ``from ... import``. A wrapper keeps the
    wrapped function's module and qualified name, so a function shipped
    to Python workers still pickles by reference to the plain original.
    """
    modules: list[tuple[str, types.ModuleType]] = []
    for layer in PACKAGE_LAYERS:
        pkg = importlib.import_module(f"zolo_spark.{layer}")
        modules.append((layer, pkg))
        for info in pkgutil.iter_modules(pkg.__path__):
            modules.append((layer, importlib.import_module(
                f"{pkg.__name__}.{info.name}")))
    wh = importlib.import_module("zolo_spark.warehouse")
    modules.append(("warehouse", wh))

    wrapped: dict[object, object] = {}
    for layer, mod in modules:
        short = mod.__name__.removeprefix("zolo_spark.")
        for name, obj in list(vars(mod).items()):
            if (name.startswith("_") or not isinstance(obj, types.FunctionType)
                    or obj.__module__ != mod.__name__):
                continue
            if obj not in wrapped:
                wrapped[obj] = tracer.wrap(obj, layer, f"{short}.{name}")
            setattr(mod, name, wrapped[obj])
    for name, obj in list(vars(wh.Warehouse).items()):
        if not name.startswith("_") and isinstance(obj, types.FunctionType):
            setattr(wh.Warehouse, name,
                    tracer.wrap(obj, "warehouse", f"Warehouse.{name}"))
            wrapped[obj] = getattr(wh.Warehouse, name)
    for mod in list(sys.modules.values()):
        if mod is None or not mod.__name__.startswith("zolo_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            if isinstance(obj, types.FunctionType) and obj in wrapped:
                setattr(mod, name, wrapped[obj])


# ----------------------------------------------------------- reduction

def _union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _length(intervals: Iterable[tuple[float, float]]) -> float:
    return sum(b - a for a, b in intervals)


def _subtract(base: list[tuple[float, float]],
              cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``base`` minus ``cut``; both sorted, disjoint interval lists."""
    out = []
    for a, b in base:
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Per span: its interval minus the union of its children's."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: _subtract([(s.start, s.end)], _union(kids[s.sid]))
            for s in spans}


def read_event_log(path: str) -> list[dict]:
    """Events of every ``events_<n>_<app>`` file of the rolling event
    log under ``path``, in file order."""
    files = sorted(os.path.join(d, f) for d, _, names in os.walk(path)
                   for f in names if f.startswith("events_"))
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _group(props: dict | None) -> int | None:
    g = (props or {}).get(GROUP_KEY)
    return int(g) if g and g.isdigit() else None


def reduce(spans: list[Span], events: Iterable[dict]) -> dict[str, float]:
    """Per-layer metrics ``<layer>.<metric>`` for every layer in
    :data:`LAYERS`, plus ``spark_action.input_bytes`` and
    ``warehouse.bytes_written``."""
    jobs: dict[int, list] = {}  # job id -> [group, submit s, end s]
    stage_group: dict[int, int | None] = {}
    per_span: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            jobs[ev["Job ID"]] = [g, ev["Submission Time"] / 1e3, None]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            if g is not None:
                per_span[g]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                per_span[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            m = per_span[g]
            m["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)

    job_iv: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for g, a, b in jobs.values():
        if g is not None and b is not None:
            job_iv[g].append((a, b))

    out: dict[str, float] = {f"{layer}.{m}": 0.0 for layer in LAYERS
                             for m in LAYER_METRICS}
    out["spark_action.input_bytes"] = 0.0
    out["warehouse.bytes_written"] = 0.0
    selfs = self_intervals(spans)
    for s in spans:
        p = f"{s.layer}."
        mine = selfs[s.sid]
        m = per_span.get(s.sid, {})
        out[p + "calls"] += 1
        out[p + "self_s"] += _length(mine)
        out[p + "driver_gap_s"] += _length(_subtract(mine, _union(job_iv[s.sid])))
        out[p + "py4j_calls"] += s.py4j
        for k in ("jobs", "stages", "tasks", "failed_tasks", "task_s",
                  "shuffle_write_bytes"):
            out[p + k] += m.get(k, 0.0)
        if s.layer == "spark_action":
            out["spark_action.input_bytes"] += m.get("input_bytes", 0.0)
        if s.layer == "warehouse":
            out["warehouse.bytes_written"] += m.get("bytes_written", 0.0)
    return out


def op_residuals(spans: list[Span]) -> dict[int, float]:
    """Per op: its root span's wall minus the sum of its spans' self
    times. Zero when every span of the op nests inside its root."""
    selfs = self_intervals(spans)
    wall: dict[int, float] = {}
    total: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.op is None:
            continue
        total[s.op] += _length(selfs[s.sid])
        if s.parent is None:
            wall[s.op] = wall.get(s.op, 0.0) + (s.end - s.start)
    return {op: wall.get(op, 0.0) - total[op] for op in total}
