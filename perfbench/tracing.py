"""In-memory span recorder for the traced benchmark run.

A span is one timed call at a layer boundary: its name, start and end
(seconds since the tracer was created), the id of the span that caused it,
and the document or part id it concerns. Spans stay in memory and are
written out once, when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

The tracing overhead of a run is the number of spans it recorded times
``span_cost_s``, the measured cost of opening and closing one span. The
difference between a traced and an untraced pass over the same work is
far smaller than the run-to-run noise of either, so it is not measured
that way.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from statistics import median


class Tracer:
    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []
        # parent for spans opened on threads that have no open span yet
        # (run_checkpointed's part jobs run on a driver thread pool)
        self.thread_root: int | None = None

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, item=None) -> dict:
        stack = self._stack()
        rec = {
            "id": 0,
            "name": name,
            "start": self.now(),
            "end": None,
            "parent": stack[-1]["id"] if stack else self.thread_root,
            "item": item,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        return rec

    def end(self, rec: dict, item=None) -> None:
        rec["end"] = self.now()
        if item is not None:
            rec["item"] = item
        stack = self._stack()
        if rec in stack:
            stack.remove(rec)

    @contextmanager
    def span(self, name: str, item=None):
        rec = self.begin(name, item)
        try:
            yield rec
        finally:
            self.end(rec)

    def add(self, name: str, start: float, end: float, parent, item=None) -> dict:
        """Record a span whose interval was observed after the fact."""
        rec = {"id": 0, "name": name, "start": start, "end": end,
               "parent": parent, "item": item}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def total(self, name: str) -> tuple[int, float]:
        """(count, summed duration in seconds) of the spans called ``name``."""
        durs = [s["end"] - s["start"] for s in self.closed() if s["name"] == name]
        return len(durs), sum(durs)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed() if s["name"] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds."""
        spans = self.closed()
        children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        table: dict[str, dict] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - covered
        return table

    def format_table(self) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1]["self_s"])
        lines = [f"{'span':44s} {'count':>7s} {'total_ms':>11s} {'self_ms':>11s}"]
        for name, r in rows:
            lines.append(
                f"{name:44s} {r['count']:7d} {r['total_s'] * 1e3:11.2f} "
                f"{r['self_s'] * 1e3:11.2f}"
            )
        return "\n".join(lines)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.closed(),
                       "self_times": self.self_times()}, fh)


def span_cost_s(n: int = 20000, repeats: int = 5) -> float:
    """Seconds one ``Tracer.span`` adds around a block: ``n`` spans on a
    scratch tracer minus the same loop with an empty context manager,
    median over ``repeats``."""
    costs = []
    for _ in range(repeats):
        tracer = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with nullcontext():
                pass
        t1 = time.perf_counter()
        for i in range(n):
            with tracer.span("cost", i):
                pass
        costs.append(((time.perf_counter() - t1) - (t1 - t0)) / n)
    return median(costs)


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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
    return covered
