"""In-memory span recorder for the traced run.

Spans are recorded around the benchmark's calls into each package layer
(never inside the package) and written out once, when the run ends. An
untraced run uses the same calls with recording off, so both runs execute
the same code path apart from the bookkeeping.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        """Record ``name`` in ``layer``; the innermost open span is its parent.
        ``op`` ties together the spans of one benchmark operation."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "parent": parent, "name": name, "layer": layer,
               "op": op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with every call recorded as a span (identity when off)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def calls(self, name: str) -> int:
        return sum(s["name"] == name for s in self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
