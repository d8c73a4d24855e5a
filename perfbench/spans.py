"""Spans and counts recorded from the benchmark's own files.

``Tracer.wrap(owner, attr, name)`` replaces a public function (module
attribute or class method) of the engine with a wrapper that records a
span — name, start, end, parent span, run id — and a call count.  The
engine itself is not modified: the wrappers are installed by the
traced run and removed by ``Tracer.unwrap_all``.  Spans stay in memory
and are written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.calls: Counter[str] = Counter()
        self.run_id: str | None = None
        self.enabled = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, on_call=None) -> None:
        """Record a span around every call of ``owner.attr``; ``on_call``
        also sees the call's arguments (used to list the tables read)."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.enabled:
                tracer.calls[name] += 1
                if on_call is not None:
                    on_call(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        wrapper.__name__ = getattr(original, "__name__", attr)
        wrapper.__doc__ = getattr(original, "__doc__", None)
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def total(self, name: str, run_id: str | None = None) -> float:
        """Summed duration of the spans called ``name`` (in one run, or all)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and (run_id is None or s["run"] == run_id))

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"] and s["end"]]
        return (span["end"] - span["start"]) - sum(s["end"] - s["start"] for s in kids)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [dict(s, start=s["start"] - t0, end=(s["end"] or t0) - t0,
                    self_s=self.self_time(s) if s["end"] else None)
               for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": out, "calls": dict(self.calls)}, f, indent=1)
