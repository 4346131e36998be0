"""In-memory spans around the benchmark's calls into engine layers.

A span records ``(id, name, layer, request, parent, start, end)``. Spans
nest through a stack (the benchmark is single-threaded on the driver), a
child inherits its parent's request id, and nothing is written until
``dump`` at exit. With tracing disabled ``span`` returns a shared no-op
context, so the untraced run pays one attribute check per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# engine module of each layer -> short prefix used in per-layer metric names
LAYERS = {
    "session": "session",
    "analysis.tokenizer": "tokenizer",
    "index.build": "build",
    "index.codec": "codec",
    "index.catalog": "catalog",
    "index.merge": "merge",
    "query.wand": "wand",
    "query.msearch": "msearch",
    "bench": "bench",  # the benchmark's own driver work: oracle, checks
}

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled:
            return _NOOP
        return self._span(name, layer, request)

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, request: str | None):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "request": request if request is not None
            else (parent["request"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it its
        direct children cover (children never overlap: one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one enabled, empty span (enter + exit)."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("probe", "bench"):
            pass
    return (time.perf_counter() - t0) / n
