"""Spans for the traced run.

A ``Tracer`` keeps spans in memory (``name / start / end / parent``
plus the id of the operation they belong to) and writes them to one
JSON file when the run ends. Spans come from two places, both in the
benchmark's own files: ``span()`` around the benchmark's calls into
the program, and ``wrap()``, which swaps a module attribute for a
timing wrapper for the duration of a traced run (``unwrap_all``
restores the original). The timed runs never install wrappers.

One stack is shared by all threads: the benchmark is a closed loop
with one client thread, and the only other thread that enters the
program (the HTTP server thread answering ``GET /``) runs while the
client thread is blocked on that request, so a child span opened there
nests under the client's open span.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._op = 0
        self._wrapped: list[tuple[object, str, object]] = []
        self._cleanups: list = []
        self.enabled = True

    @contextmanager
    def op(self, name: str):
        """A root span: one operation (a query, a night, a tick)."""
        self._op += 1
        with self.span(name):
            yield self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "op": self._op, "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None,
            })
            self._stack.append(sid)
        try:
            yield sid
        finally:
            with self._lock:
                self.spans[sid]["end"] = time.perf_counter()
                self._stack.remove(sid)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        named ``name`` around every call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._wrapped.append((module, attr, orig))
        setattr(module, attr, traced)

    def wrap_everywhere(self, func, name: str, prefixes=("lambda_sample_spark", "examples")) -> None:
        """Wrap ``func`` under every name it is bound to in the
        program's loaded modules (``from x import f`` copies the
        binding, so wrapping the home module alone misses callers)."""
        import sys

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith(prefixes):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name)

    def on_unwrap(self, fn) -> None:
        """Run ``fn`` when the wrappers come off (e.g. remove a listener)."""
        self._cleanups.append(fn)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._wrapped):
            setattr(module, attr, orig)
        self._wrapped.clear()
        while self._cleanups:
            self._cleanups.pop()()

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed() if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.closed() if s["name"] == name)

    def self_times(self, in_ops: bool = False) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part its
        child spans cover, summed by layer (the span name up to its
        last dot). ``in_ops`` keeps only spans inside operations, which
        leaves set-up out."""
        spans = [s for s in self.closed() if s["op"] > 0 or not in_ops]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            layer = s["name"].rsplit(".", 1)[0]
            own = max(0.0, s["end"] - s["start"] - child.get(s["id"], 0.0))
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


class NullTracer(Tracer):
    """The timed runs' tracer: records nothing, wraps nothing."""

    def __init__(self) -> None:
        super().__init__()
        self.enabled = False

    def wrap(self, module, attr: str, name: str) -> None:
        return None

    def on_unwrap(self, fn) -> None:
        return None
