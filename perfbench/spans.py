"""Spans around the engine's layer boundaries, for the traced run only.

The engine is not instrumented. Instead the traced run replaces each
layer's public function, at every module that imported it by name, with a
wrapper that records one span per call: name, thread, start, end and the
span that was open on the same thread when the call began (its parent).
Spans stay in memory and are written out when the run ends.

Self time of a span is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from typing import Any, Callable


class Tracer:
    def __init__(self) -> None:
        # [name, thread, start, end, parent index or None]
        self.spans: list[list[Any]] = []
        self.notes: dict[str, list[Any]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def note(self, key: str, value: Any) -> None:
        with self._lock:
            self.notes.setdefault(key, []).append(value)

    def _wrap(self, name: str, fn: Callable,
              before: Callable | None, after: Callable | None) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            pre = before(*args, **kwargs) if before else None
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            span = [name, threading.current_thread().name, 0.0, None,
                    stack[-1] if stack else None]
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            span[2] = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                span[3] = time.perf_counter()
                stack.pop()
            if after:
                after(result, pre, *args, **kwargs)
            return result

        return wrapper

    def patch(self, name: str, owner: Any, attr: str, *import_sites: Any,
              before: Callable | None = None,
              after: Callable | None = None) -> None:
        """Wrap ``owner.attr`` and every import site that holds the same
        object (a module that did ``from x import attr``). The defining
        site must exist; an import site that no longer imports the name
        is skipped, and the coverage guard then reports the layer if no
        call reaches it."""
        orig = getattr(owner, attr)
        wrapped = self._wrap(name, orig, before, after)
        for site in (owner, *import_sites):
            if getattr(site, attr, None) is orig:
                setattr(site, attr, wrapped)
                self._patched.append((site, attr, orig))

    def unpatch(self) -> None:
        for site, attr, orig in reversed(self._patched):
            setattr(site, attr, orig)
        self._patched.clear()

    # --- derived figures -------------------------------------------------

    def _of(self, name: str) -> list[list[Any]]:
        return [s for s in self.spans if s[0] == name and s[3] is not None]

    def calls(self, name: str) -> int:
        return len(self._of(name))

    def busy_s(self, name: str) -> float:
        return sum(s[3] - s[2] for s in self._of(name))

    def p50_s(self, name: str) -> float:
        d = [s[3] - s[2] for s in self._of(name)]
        return statistics.median(d) if d else 0.0

    def self_s(self, name: str) -> float:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                children.setdefault(s[4], []).append((s[2], s[3]))
        total = 0.0
        for i, s in enumerate(self.spans):
            if s[0] != name or s[3] is None:
                continue
            covered, reach = 0.0, s[2]
            for lo, hi in sorted(children.get(i, [])):
                lo, hi = max(lo, reach), min(hi, s[3])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            total += (s[3] - s[2]) - covered
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s[2] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump({"spans": [
                {"name": n, "thread": th, "start": a - t0, "end": b - t0,
                 "parent": p} for n, th, a, b, p in self.spans],
                "notes": self.notes}, fh)
