"""Spans around the calls into each layer, recorded from outside the engine.

``Tracer.install`` replaces every public function of the layer modules
(``io``, ``operators.*``, ``streaming``, ``sources.fixed_width``) with a
wrapper that records a span, in every module that holds a reference to
it.  It must run before the query catalog is imported, because the
catalog binds those functions by name at import.

The wrappers keep the wrapped function's name, module and qualified
name, so pickling one for a Python worker resolves to the plain function
in the worker.  A wrapper records nothing unless its tracer is active.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import time
from dataclasses import dataclass

# Layer label for each traced module, by module name prefix.
LAYER_MODULES = {
    "projectmapreduce_spark.io": "io",
    "projectmapreduce_spark.streaming": "streaming",
    "projectmapreduce_spark.sources": "python",
}
OPERATORS = "projectmapreduce_spark.operators"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    run: str = ""


def layer_of(module: str) -> str | None:
    if module.startswith(OPERATORS + "."):
        return "operators." + module[len(OPERATORS) + 1 :].split(".")[0]
    for prefix, layer in LAYER_MODULES.items():
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


class Tracer:
    """Spans kept in memory; nesting follows the calling thread's stack."""

    def __init__(self, run_id: str = ""):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.active = False

    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, name, layer, time.time(), run=self.run_id)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        # Pop through anything left open by an exception below this span.
        while self._stack and self._stack.pop() is not span:
            pass

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, fn, layer: str):
        tracer = self
        name = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        traced.__perfbench_traced__ = True
        return traced

    def install(self) -> int:
        """Wrap the layer modules' public functions; returns how many."""
        import projectmapreduce_spark.operators as ops

        for mod in ("io", "streaming", "sources.fixed_width"):
            importlib.import_module(f"projectmapreduce_spark.{mod}")
        for info in pkgutil.iter_modules(ops.__path__):
            importlib.import_module(f"{OPERATORS}.{info.name}")
        if any(m.startswith("projectmapreduce_spark.queries") for m in sys.modules):
            raise RuntimeError("install the tracer before importing the query catalog")

        wrapped: dict[int, tuple] = {}
        for mname, mod in list(sys.modules.items()):
            layer = layer_of(mname)
            if layer is None or mod is None:
                continue
            for attr, fn in vars(mod).items():
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mname
                    or inspect.isgeneratorfunction(fn)
                    or getattr(fn, "__perfbench_traced__", False)
                ):
                    continue
                wrapped[id(fn)] = (fn, self.wrap(fn, layer))
        # Rebind every reference, including re-exports from package
        # __init__ modules and cross-module imports between layers.
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("projectmapreduce_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])
        return len(wrapped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, ()))
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The most deeply nested span open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best
