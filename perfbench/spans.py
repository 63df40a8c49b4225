"""In-memory spans and the self-time table derived from them.

A span is ``{"id", "name", "start", "end", "parent", "rid"}`` with
times from ``time.monotonic()`` (one clock for every process on the
machine, so the benchmark's and the host's spans line up). The parent is
the innermost open span of the same thread; the request id is inherited
from it. A disabled tracer records nothing and costs one attribute test.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._prefix = f"{os.getpid()}-"

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        outer = st[-1] if st else None
        s = {
            "id": self._prefix + str(next(self._ids)), "name": name,
            "start": time.monotonic(), "end": None,
            "parent": outer["id"] if outer else None,
            "rid": rid or (outer["rid"] if outer else None),
        }
        st.append(s)
        try:
            yield s
        finally:
            s["end"] = time.monotonic()
            st.pop()
            with self.lock:
                self.spans.append(s)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_self(spans: list[dict]) -> dict[str, float]:
    """Span id -> self seconds: the span's duration minus the part of it
    its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: s["end"] - s["start"] - _covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total and self seconds."""
    own = span_self(spans)
    out: dict[str, dict] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
    for s in spans:
        row = out[s["name"]]
        row["count"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += own[s["id"]]
    return dict(out)


def format_table(table: dict[str, dict]) -> str:
    lines = [f"{'span':40s} {'count':>7s} {'total_s':>10s} {'self_s':>10s}"]
    for name in sorted(table, key=lambda n: -table[n]["self_s"]):
        r = table[name]
        lines.append(f"{name:40s} {r['count']:7d} {r['total_s']:10.3f} {r['self_s']:10.3f}")
    return "\n".join(lines)
