"""Spans around calls into the engine's public API, recorded from outside.

``Tracer.patch`` swaps a class attribute for a wrapper for the life of a
``with`` block and puts the original back afterwards; the engine's source
is never edited. Spans live in memory and are written out once, at the
end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import uuid

from perfbench.stats import Span


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        # seconds the tracer spent on its own bookkeeping (inside op walls)
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._next_id = 0

    # -- span stack ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        # a helper thread started inside a span (the engine's commit and
        # stats threads) belongs to the span open on the main thread
        return self._main_stack[-1] if self._main_stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = self._parent(stack)
        stack.append(sid)
        start = time.time()
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield
        finally:
            end = time.time()
            b1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))
            self.bookkeeping_s += time.perf_counter() - b1

    # -- wrapping the engine's public methods ------------------------------------
    @contextlib.contextmanager
    def patch(self, cls: type, method: str, name_of):
        """Wrap ``cls.method`` so each call records a span named
        ``name_of(self_obj, *args, **kwargs)``."""
        if not self.enabled:
            yield
            return
        original = getattr(cls, method)
        tracer = self

        @functools.wraps(original)
        def wrapper(obj, *args, **kwargs):
            with tracer.span(name_of(obj, *args, **kwargs)):
                return original(obj, *args, **kwargs)

        setattr(cls, method, wrapper)
        try:
            yield
        finally:
            setattr(cls, method, original)

    # -- queries over the recorded spans --------------------------------------------
    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.span_id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "run_id": s.run_id,
                        }
                    )
                    + "\n"
                )
