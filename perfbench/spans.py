"""Spans around calls into the program, and per-layer self time.

A traced run records one span per public ``term_spark`` call the
benchmark makes (name, layer, start, end, parent, op id) and, after
each operation, one child span per Spark job it caused, read from the
status store.  Spans stay in memory and are written once at exit.

A layer's self time in an operation is the part of the operation's wall
time during which a span of that layer is the innermost one open.  Job
spans sit innermost, so concurrent jobs count once, and the layers'
self times add up to the operation's wall time.  The operation span
itself belongs to the ``bench`` layer: its self time is the benchmark's
own work between calls.

The untraced path uses ``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional


class NullTracer:
    enabled = False

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()

    def op(self, op_id: int, kind: str):
        return contextlib.nullcontext()

    def wrap(self, target, layer: str, methods):
        return target


class _Traced:
    """Proxy that records a span around each named method of target."""

    def __init__(self, target, tracer: "Tracer", layer: str, methods):
        self._target, self._tracer = target, tracer
        self._layer, self._methods = layer, set(methods)

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name not in self._methods:
            return attr
        prefix = f"{type(self._target).__name__}.{name}"

        def traced(*args, **kwargs):
            with self._tracer.span(prefix, self._layer):
                return attr(*args, **kwargs)
        return traced


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self._op: Optional[int] = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "layer": layer, "op": self._op,
                           "parent": parent, "start": time.time(),
                           "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def wrap(self, target, layer: str, methods):
        return _Traced(target, self, layer, methods)

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self._op = op_id
        try:
            with self.span(kind, "bench"):
                yield
        finally:
            self._op = None

    def add_jobs(self, op_id: int, jobs: List[Dict]) -> None:
        """Attach each job as a child of the innermost call span of
        ``op_id`` that was open when the job was submitted."""
        calls = [i for i, s in enumerate(self.spans) if s["op"] == op_id]
        for job in jobs:
            holders = [i for i in calls
                       if self.spans[i]["start"] <= job["start"] <= self.spans[i]["end"]]
            parent = max(holders, key=lambda i: self.spans[i]["start"],
                         default=calls[0] if calls else None)
            self.spans.append({"name": f"job{job['job_id']}", "layer": "session",
                               "op": op_id, "parent": parent,
                               "start": job["start"], "end": job["end"]})

    def op_spans(self, op_id: int) -> List[Dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def jobs_under(self, op_id: int, names) -> int:
        """Job spans of ``op_id`` that ran inside a call named in ``names``."""
        count = 0
        for s in self.op_spans(op_id):
            if s["layer"] != "session" or not s["name"].startswith("job"):
                continue
            parent = s["parent"]
            while parent is not None and self.spans[parent]["name"] not in names:
                parent = self.spans[parent]["parent"]
            count += parent is not None
        return count

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _depths(spans: List[Dict], all_spans: List[Dict]) -> List[int]:
    out = []
    for s in spans:
        depth, cur = 0, s
        while cur["parent"] is not None:
            depth += 1
            cur = all_spans[cur["parent"]]
        out.append(depth)
    return out


def layer_self_times(spans: List[Dict], all_spans: List[Dict]) -> Dict[str, float]:
    """Seconds per layer during which that layer's span is the innermost
    open one, within the op span (the root of ``spans``)."""
    depths = _depths(spans, all_spans)
    root = min(range(len(spans)), key=lambda i: depths[i])
    lo, hi = spans[root]["start"], spans[root]["end"]
    cuts = sorted({min(max(t, lo), hi) for s in spans
                   for t in (s["start"], s["end"])})
    out: Dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_ = [i for i, s in enumerate(spans) if s["start"] <= mid < s["end"]]
        if not open_:
            continue
        inner = max(open_, key=lambda i: depths[i])
        layer = spans[inner]["layer"]
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
