"""Spans recorded from the benchmark's own files.

A span is ``(id, name, start, end, parent, run)``. Spans live in memory
and are written out as JSON when the run ends. A span's self time is its
duration minus the part of its interval its child spans cover.

In a traced run, :class:`Patches` swaps a few public functions of the
library for wrappers that open a span around each call, and puts the
originals back afterwards. The library's files are never edited.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass

from stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Collects spans; one stack shared by every thread.

    Streaming ``foreachBatch`` calls arrive on a callback thread while
    the main thread waits inside the query, so the callback's spans
    nest under the span the main thread holds open."""

    def __init__(self, run: str, enabled: bool = True):
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(sid, name, time.perf_counter(), float("nan"), parent, self.run))
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                self.spans[sid].end = time.perf_counter()
                self._stack.remove(sid)

    def descendants(self, root: int) -> list[Span]:
        """Every span under ``root`` (ids grow with start time)."""
        inside = {root}
        out = []
        for s in self.spans[root + 1:]:
            if s.parent in inside:
                inside.add(s.id)
                out.append(s)
        return out

    def self_times(self, root: int | None = None) -> dict[str, float]:
        """Self time per span name, over ``root``'s subtree (or all)."""
        spans = self.spans if root is None else [self.spans[root], *self.descendants(root)]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - union_length(children.get(s.id, []))
            out[s.name] = out.get(s.name, 0.0) + own
        return out


class Patches:
    """Replace module attributes with span-opening wrappers.

    ``add(module, attr, span_name)`` names a function to trace.
    ``install`` points every loaded module of the package that holds
    that function under its own name (``from x import fn`` copies the
    reference) at one wrapper; ``restore`` puts the originals back.
    ``wrap_result`` wraps the function's return value as well, for
    factories whose product is what runs later."""

    def __init__(self, tracer: Tracer, package: str):
        self.tracer = tracer
        self.package = package
        self._specs: list[tuple[str, str, str, object]] = []
        self._undo: list[tuple[object, str, object]] = []

    def add(self, module: str, attr: str, span_name: str, wrap_result=None) -> None:
        self._specs.append((module, attr, span_name, wrap_result))

    def install(self) -> None:
        for module, attr, span_name, wrap_result in self._specs:
            fn = getattr(importlib.import_module(module), attr)
            traced = self._wrapper(fn, span_name, wrap_result)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith(self.package):
                    continue
                if getattr(mod, attr, None) is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, traced)

    def _wrapper(self, fn, span_name: str, wrap_result):
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            return wrap_result(tracer, out) if wrap_result else out

        return traced

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()
