"""In-memory spans around calls into the program's public functions.

Spans are recorded only by the traced run, from the benchmark's side of each
call: a wrapper replaces a module or class attribute for the duration of a
``with tracer.patched(...)`` block and restores it afterwards, so the
program's files are never edited.  Spans live in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        # time the wrappers spent on their own bookkeeping (for example
        # status-tracker queries), added by the wrappers themselves
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """One span: name, start, end and the enclosing span that caused it."""
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, targets: Dict[str, tuple]):
        """Wrap ``{span name: (owner, attribute)}`` for the block's duration."""
        saved = []
        for name, (owner, attr) in targets.items():
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def total_s(self, name: str, parent: Optional[int] = None) -> float:
        """Summed duration of spans called ``name`` (under ``parent`` if given)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (parent is None or s["parent"] == parent)
        )

    def self_times(self) -> Dict[str, float]:
        """Per span name: duration minus the time its direct children cover."""
        child: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def _under(self, span: dict, root: int) -> bool:
        while span["parent"] is not None:
            if span["parent"] == root:
                return True
            span = self.spans[span["parent"]]
        return False

    @staticmethod
    def span_cost_s(n: int = 20000) -> float:
        """Measured cost of one span: a wrapped empty call minus a bare one."""
        bare = lambda: None  # noqa: E731
        wrapped = Tracer("calibration").wrap(bare, "empty")
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t1 = time.perf_counter()
        for _ in range(n):
            bare()
        t2 = time.perf_counter()
        return max((t1 - t0) - (t2 - t1), 0.0) / n

    def overhead_s(self, root: int) -> float:
        """Time tracing added inside span ``root``: the spans recorded under
        it, each at the measured cost of one span, plus the bookkeeping."""
        n = sum(1 for s in self.spans if self._under(s, root))
        return n * self.span_cost_s() + self.bookkeeping_s
