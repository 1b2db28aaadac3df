"""In-memory spans and the module-call wrappers that record them.

A span has a name, a kind, a start and end (epoch seconds), the id of
its parent span and the run id.  Spans are kept in memory and written
out once when the run ends.  Only the driver's main thread records
spans; calls on other threads (streaming callbacks) and calls inside
Python workers pass straight through.

``install`` wraps every public function defined in the traced engine
packages and rebinds *every* module attribute that refers to it, so a
plan module that did ``from kmr_spark.session import materialize_release``
calls the wrapper too.  ``uninstall`` restores all of them, including
bindings made by modules imported while the wrappers were active.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

#: engine packages whose public functions get a span per call
MODULE_GROUPS = ("session", "kvs", "operators", "sources", "functions",
                 "llm_ops", "streaming", "plans")
PACKAGE = "kmr_spark"


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float | None
    parent: int | None
    run: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Recorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.modules_on = True
        self._stack: list[Span] = []
        self._main = threading.get_ident()

    def open(self, name: str, kind: str, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, kind, time.time(), None, parent,
                    self.run_id, attrs)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        top = self._stack.pop()
        if top is not span:
            raise RuntimeError(f"span {span.name} closed while {top.name} is open")

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = self.open(name, kind, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None, **attrs) -> Span:
        """Record a finished interval measured elsewhere (event log)."""
        span = Span(len(self.spans), name, kind, start, end, parent,
                    self.run_id, attrs)
        self.spans.append(span)
        return span


_RECORDER: Recorder | None = None


def activate(recorder: Recorder | None) -> None:
    global _RECORDER
    _RECORDER = recorder


def _call(fn, name, args, kwargs):
    rec = _RECORDER
    if rec is None or not rec.modules_on or threading.get_ident() != rec._main:
        return fn(*args, **kwargs)
    span = rec.open(name, "module")
    try:
        return fn(*args, **kwargs)
    finally:
        rec.close(span)


def _wrap(fn, name):
    # The wrapper only references the module-level ``_call``, so when a
    # wrapped function is shipped to a Python worker it pickles cleanly
    # and runs untraced there.
    def wrapper(*args, **kwargs):
        return _call(fn, name, args, kwargs)

    functools.update_wrapper(wrapper, fn)
    wrapper.__perfbench_span__ = name
    return wrapper


def _engine_modules(extra: tuple[str, ...]):
    for mod_name, mod in list(sys.modules.items()):
        if mod is not None and (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")
                                or mod_name in extra):
            yield mod_name, mod


def span_name(mod_name: str, fn_name: str) -> str:
    return f"{mod_name[len(PACKAGE) + 1:]}.{fn_name}"


def group_of(name: str) -> str:
    return name.split(".", 1)[0]


def import_all() -> None:
    """Import every engine module, so that modules a query would first
    import inside a function body get wrapped too."""
    import importlib
    import pkgutil

    package = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(package.__path__, PACKAGE + "."):
        importlib.import_module(info.name)


def install(extra_modules: tuple[str, ...] = ("__spark_entry__",)) -> dict:
    """Wrap the public functions of the traced packages; returns the
    original-to-wrapper map."""
    import_all()
    wrappers: dict[int, tuple] = {}
    for mod_name, mod in _engine_modules(()):
        if mod_name == PACKAGE or group_of(mod_name[len(PACKAGE) + 1:]) not in MODULE_GROUPS:
            continue
        for attr, value in list(vars(mod).items()):
            if (inspect.isfunction(value) and not attr.startswith("_")
                    and value.__module__ == mod_name
                    and not hasattr(value, "__perfbench_span__")):
                wrappers[id(value)] = (value, _wrap(value, span_name(mod_name, attr)))
    for _mod_name, mod in _engine_modules(extra_modules):
        for attr, value in list(vars(mod).items()):
            hit = wrappers.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])
    return {orig: wrapper for orig, wrapper in wrappers.values()}


def uninstall(extra_modules: tuple[str, ...] = ("__spark_entry__",)) -> int:
    """Rebind every attribute that holds a wrapper to its original."""
    restored = 0
    for _mod_name, mod in _engine_modules(extra_modules):
        for attr, value in list(vars(mod).items()):
            if hasattr(value, "__perfbench_span__") and inspect.isfunction(value):
                setattr(mod, attr, value.__wrapped__)
                restored += 1
    return restored


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span], kinds: tuple[str, ...] | None = None) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children
    (optionally only children of the given kinds), clipped to the span."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is None or s.end is None or (kinds and s.kind not in kinds):
            continue
        p = by_id.get(s.parent)
        if p is None or p.end is None:
            continue
        a, b = max(s.start, p.start), min(s.end, p.end)
        if b > a:
            children.setdefault(p.id, []).append((a, b))
    return {s.id: max(0.0, s.duration - union_length(children.get(s.id, [])))
            for s in spans if s.end is not None}


def ancestors(by_id: dict[int, Span], span: Span) -> list[Span]:
    """Parent, grandparent, ... of ``span``; raises on a cycle or a
    parent id that names no span."""
    chain, seen = [], {span.id}
    while span.parent is not None:
        if span.parent in seen or span.parent not in by_id:
            raise ValueError(f"broken parent chain at span {span.id} ({span.name})")
        seen.add(span.parent)
        span = by_id[span.parent]
        chain.append(span)
    return chain


def check_tree(spans: list[Span]) -> str | None:
    """None when the spans form one tree under a single run span and all
    share its run id, else what is wrong."""
    roots = [s for s in spans if s.parent is None]
    if len(roots) != 1 or roots[0].kind != "run":
        return f"{len(roots)} root spans"
    by_id = {s.id: s for s in spans}
    try:
        for s in spans:
            ancestors(by_id, s)
    except ValueError as exc:
        return str(exc)
    if any(s.run != roots[0].run for s in spans):
        return "spans of another run"
    return None


def to_json(spans: list[Span]) -> list[dict]:
    return [{"id": s.id, "name": s.name, "kind": s.kind, "start": s.start,
             "end": s.end, "parent": s.parent, "run": s.run, **({"attrs": s.attrs} if s.attrs else {})}
            for s in spans]
