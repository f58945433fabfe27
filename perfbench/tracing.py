"""Layer spans for the traced run, and the per-layer numbers they give.

The benchmark records spans from its own files: ``install`` wraps every
public function of each layer module (the package modules named in
``LAYERS``) so that a call opens a span and tags the Spark jobs it launches
with the local property ``perfbench.span``.  Spans stay in memory; after the
session stops, ``layer_metrics`` joins them with the Spark event log:

- a job tagged with a layer span is charged to that layer;
- a job tagged with the operation's root span (the benchmark's own
  ``collect`` of a returned lazy frame) is charged to the layer whose call
  built that frame: the last layer call that returned before the job began;
- a job without a tag (launched from a thread the property did not reach) is
  counted in ``trace.untagged_jobs`` and charged by time within its
  operation.

Modules outside ``LAYERS`` (``folds``, ``functions.*`` and the operators not
listed) are not wrapped: their lazy Columns and helpers run inside the span
of the layer call that uses them.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import inspect
import itertools
import json
import os
import sys
import threading
import time

LAYERS = ["sources", "mapreduce", "aggregation", "skew", "operators.dedup",
          "operators.bloom", "operators.retrieval", "operators.quality",
          "operators.classifier", "operators.packing", "operators.similarity",
          "operators.quantized", "operators.clusters", "streaming"]
LAYER_METRICS = ["self_s", "driver_gap_s", "jobs", "executor_cpu_s",
                 "shuffle_bytes", "fetch_wait_s", "python_bytes"]
PACKAGE = "frames_map_reduce_spark"
TAG = "perfbench.span"
PYTHON_ACCUMS = ("data sent to Python workers",
                 "data returned from Python workers")


@dataclasses.dataclass
class Span:
    id: int
    layer: str | None          # None for an operation's root span
    name: str
    op: int                    # id of the operation's root span
    parent: int | None
    thread: int
    start: float               # epoch seconds, comparable with event logs
    end: float = 0.0


class Tracer:
    """In-memory span recorder.  ``enabled`` is switched per pass, so the
    wrappers cost one attribute test when the pass is not traced."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: Span | None = None
        self.enabled = False
        self.spans: list[Span] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, layer: str | None, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        span = Span(next(self._ids), layer, name,
                    self._op.id if self._op else 0,
                    parent.id if parent else None,
                    threading.get_ident(), time.time())
        stack.append(span)
        self._sc.setLocalProperty(TAG, str(span.id))
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        self._sc.setLocalProperty(TAG, str(stack[-1].id) if stack else None)
        self.spans.append(span)

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one operation (main thread only); yields it, or
        None when tracing is off."""
        if not self.enabled:
            yield None
            return
        self._op = self._open(None, name)
        self._op.op = self._op.id
        try:
            yield self._op
        finally:
            self._close(self._op)
            self._op = None

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or self._op is None:
                return fn(*args, **kwargs)
            span = self._open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)
        return traced


def install(tracer: Tracer) -> int:
    """Wrap the public functions of every layer module, everywhere the
    loaded modules refer to them.  Returns the number wrapped."""
    wrapped: dict[int, object] = {}
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        for name, fn in list(vars(mod).items()):
            if (inspect.isfunction(fn) and not name.startswith("_")
                    and fn.__module__ == mod.__name__):
                wrapped[id(fn)] = tracer.wrap(fn, layer)
    for mod in list(sys.modules.values()):
        mname = getattr(mod, "__name__", "")
        if not (mname.startswith(PACKAGE) or mname in (
                "query_rigs", "__spark_entry__", "workloads")):
            continue
        for name, val in list(vars(mod).items()):
            if id(val) in wrapped and inspect.isfunction(val):
                setattr(mod, name, wrapped[id(val)])
    return len(wrapped)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class Job:
    id: int
    start: float
    end: float
    tag: int | None
    stages: list[int]
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    fetch_wait_s: float = 0.0
    python_bytes: int = 0
    failed_tasks: int = 0


def read_event_log(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(TAG)
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                          0.0, int(tag) if tag else None,
                          list(ev.get("Stage IDs", [])))
                jobs[job.id] = job
                for s in job.stages:
                    stage_job[s] = job.id
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    job.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                job.fetch_wait_s += (m.get("Shuffle Read Metrics") or {}) \
                    .get("Fetch Wait Time", 0) / 1000.0
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") in PYTHON_ACCUMS:
                        job.python_bytes += int(acc.get("Update") or 0)
    for job in jobs.values():
        job.end = job.end or job.start
    return list(jobs.values())


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(seg: tuple[float, float], cover) -> float:
    a, b = seg
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in cover)


def _segments(span: Span, children: list[Span]) -> list[tuple[float, float]]:
    """The parts of ``span`` that none of ``children`` covers."""
    segs, t = [], span.start
    for a, b in _union([(c.start, c.end) for c in children]):
        if a > t:
            segs.append((t, min(a, span.end)))
        t = max(t, b)
    if span.end > t:
        segs.append((t, span.end))
    return segs


def layer_metrics(spans: list[Span], jobs: list[Job],
                  weights: dict[int, float]) -> dict[str, float]:
    """Per-layer numbers: each operation's spans and jobs count with the
    weight of its root span (``weights``, by root span id; operations
    not listed count zero).  Weighting recurring operations by one over
    the number of traced passes gives the numbers of one pass."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_METRICS}
    spans = [s for s in spans if weights.get(s.op)]
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    job_cover = _union([(j.start, j.end) for j in jobs])

    # self time: a layer span's own segments; an operation's segments go
    # to the layer call that returned last before each segment began
    owned: list[tuple[str, tuple[float, float], float]] = []
    for s in spans:
        segs = _segments(s, kids.get(s.id, []))
        w = weights[s.op]
        if s.layer is not None:
            owned += [(s.layer, g, w) for g in segs]
            continue
        direct = sorted((c for c in kids.get(s.id, [])
                         if c.layer is not None and c.thread == s.thread),
                        key=lambda c: c.end)
        for g in segs:
            before = [c for c in direct if c.end <= g[0] + 1e-6]
            if before:
                owned.append((before[-1].layer, g, w))
    for layer, g, w in owned:
        out[f"{layer}.self_s"] += w * (g[1] - g[0])
        out[f"{layer}.driver_gap_s"] += w * ((g[1] - g[0])
                                             - _covered(g, job_cover))

    def owner_at(t: float) -> str | None:
        hits = [layer for layer, g, _ in owned if g[0] <= t <= g[1]]
        return hits[0] if hits else None

    ops = [s for s in spans if s.layer is None]
    out["trace.untagged_jobs"] = out["trace.failed_tasks"] = 0.0
    for j in jobs:
        op = next((o for o in ops if o.start <= j.start <= o.end), None)
        if op is None:
            continue                       # not in a weighted operation
        w = weights[op.id]
        out["trace.failed_tasks"] += w * j.failed_tasks
        span = by_id.get(j.tag) if j.tag is not None else None
        if span is None:
            out["trace.untagged_jobs"] += w
        layer = span.layer if span is not None else None
        if layer is None:
            layer = owner_at(j.start)
        if layer is None:
            continue
        out[f"{layer}.jobs"] += w
        out[f"{layer}.executor_cpu_s"] += w * j.cpu_s
        out[f"{layer}.shuffle_bytes"] += w * j.shuffle_bytes
        out[f"{layer}.fetch_wait_s"] += w * j.fetch_wait_s
        out[f"{layer}.python_bytes"] += w * j.python_bytes
    return out
