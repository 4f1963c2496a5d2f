"""In-memory spans recorded by the benchmark around calls into each layer.

A span has a name, start, end, parent span and run id.  Spans are kept in
memory and written out when the run ends.  A span's self time is its
duration minus the part of its interval covered by its child spans.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """`fn` with every call recorded as a span called `name`."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed self time of every span called `name`."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        total = 0.0
        for s in self.spans:
            if s["name"] == name:
                covered = _covered(s["start"], s["end"], children.get(s["id"], []))
                total += (s["end"] - s["start"]) - covered
        return total


def _covered(lo: float, hi: float, kids: list[dict]) -> float:
    """Length of [lo, hi] covered by the union of the children's intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, k["start"]), min(hi, k["end"])) for k in kids):
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
