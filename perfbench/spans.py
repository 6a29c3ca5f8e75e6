"""In-memory spans around calls into the program's layers.

Spans are recorded from the benchmark's side only: public functions of
the measured modules are replaced, in this process, by ``_Traced``
wrappers.  Modules that imported a function by name (``from x import
f``) are patched too, so every call path goes through the wrapper and
no program file is edited.

A span has a name, start, end, parent span and the id of the operation
it belongs to.  A layer's self time is its spans' durations minus the
part covered by their child spans.
"""

from __future__ import annotations

import contextlib
import copy
import functools
import inspect
import sys
import threading
import time
import types
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str      # "<layer>:<function>"
    op: str | None
    t0: float      # epoch seconds
    t1: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()

    def begin(self, name: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            s = Span(len(self.spans), stack[-1].sid if stack else None, name, self.op, time.time())
            self.spans.append(s)
        stack.append(s)
        return s

    def end(self, s: Span) -> None:
        s.t1 = time.time()
        self._local.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    # ---- installing wrappers ---------------------------------------

    def install(self, targets: dict[str, object], package: str) -> int:
        """Wrap the public functions of each target module (or the
        public methods of each target class) under the given layer name;
        re-point by-name imports in ``package`` and ``__spark_entry__``.
        Returns the number of functions wrapped."""
        replaced: dict[int, object] = {}
        for layer, target in targets.items():
            if isinstance(target, type):
                for attr, fn in list(vars(target).items()):
                    if inspect.isfunction(fn) and not attr.startswith("_"):
                        setattr(target, attr, _Traced(fn, f"{layer}:{attr}", self))
                continue
            for attr, fn in list(vars(target).items()):
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == target.__name__
                ):
                    w = _Traced(fn, f"{layer}:{attr}", self)
                    setattr(target, attr, w)
                    replaced[id(fn)] = w
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == "__spark_entry__" or name.startswith(package)):
                continue
            for attr, val in list(vars(mod).items()):
                w = replaced.get(id(val))
                if w is not None and w.fn is val:
                    setattr(mod, attr, w)
        return len(replaced)

    # ---- summaries ---------------------------------------------------

    def self_times(self) -> dict[str | None, dict[str, list[float]]]:
        """{op: {layer: [self seconds of each span]}}"""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.t1 - s.t0
        out: dict = defaultdict(lambda: defaultdict(list))
        for s in self.spans:
            out[s.op][s.layer].append(max(0.0, s.t1 - s.t0 - child[s.sid]))
        return out

    def totals(self, name: str) -> dict[str | None, float]:
        """{op: summed duration of spans with this exact name}"""
        out: dict = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                out[s.op] += s.t1 - s.t0
        return out

    def dump(self) -> list[dict]:
        return [vars(s).copy() for s in self.spans]


class _Traced:
    """Callable stand-in for a function: records a span per call.

    Pickles as the wrapped function (a closure shipped to Python workers
    must not carry the tracer) and binds like a function when set on a
    class."""

    def __init__(self, fn, name: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self.fn = fn
        self.name = name
        self.tracer = tracer

    def __call__(self, *args, **kwargs):
        if not self.tracer.enabled:
            return self.fn(*args, **kwargs)
        s = self.tracer.begin(self.name)
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.tracer.end(s)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return copy.copy, (self.fn,)
